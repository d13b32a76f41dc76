"""Generated input fixtures, written once per checkout under its
gitignored ``.warc_shards/`` directory: the WARC, TFRecord and zstd
shard files of the file-source queries, and the stand-in text corpus
(``textcorpus.py``).

``materialize`` is the one place that writes them.  Its ``build``
callback fills a private ``<final>.tmp-<pid>`` directory, which is then
renamed into place, so a reader never sees a half-written fixture and
concurrent sessions race safely.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".warc_shards"
)


def materialize(tag: str, build: Callable[[str], object]) -> str:
    """Return ``FIXTURE_ROOT/tag``, first running ``build(tmp_dir)`` to
    write its files if it does not exist yet."""
    final = os.path.join(FIXTURE_ROOT, tag)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            # Lost the race to a concurrent session: its copy is
            # byte-identical (every ``build`` is deterministic), keep it.
            # Any other failure (e.g. a cross-device tmp) must surface
            # here, not as a later FileNotFoundError from a glob.
            if not os.path.isdir(final):
                raise
        return final
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
