"""Crawl-frontier operators: RFC 9309 robots.txt evaluation and a real
HTML link tokenizer — the two decisions a crawl pipeline makes for
every fetched page (may I fetch it? what does it link to?), upstream
of the WARC/WET ingest stack (multimodal10, warc_ingest).

- ``parse_robots`` / ``robots_decision``: the Robots Exclusion
  Protocol as RFC 9309 specifies it — line-oriented ``key: value``
  records, ``#`` comments, groups formed by consecutive User-agent
  lines, case-insensitive product-token UA matching, the MOST-SPECIFIC
  matching group only (the ``*`` group is consulted solely when no
  named group matches), longest-path-match precedence with Allow
  winning length ties, ``*`` and ``$`` wildcards in rule paths, empty
  Disallow = allow-all, unknown keys (Crawl-delay) carried as
  extensions.
- ``iter_html_tokens`` / ``extract_links``: a WHATWG-style tag
  tokenizer (not a regex): comments (``<!-- -->``), raw-text elements
  (``script``/``style`` swallow everything to their close tag),
  attribute parsing with double-/single-/unquoted values, and
  case-insensitive tag/attribute names.  ``extract_links`` returns
  ``<a href>`` values in document order — links inside comments or
  script bodies must NOT surface (the classic crawler trap).

Both queries plant their inputs from pure doc_id formulas so the
DuckDB oracle re-derives every decision and length; the parsers are
the real, total article (lenient where the specs are lenient, never a
stray exception).

Scale shape: both queries are the standard decode-family plan — two
narrow stateless Arrow-batched mapInPandas stages, no shuffle.  At
100 TB robots evaluation is a per-host broadcast-dimension lookup and
link extraction is this exact map over fetched payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

# --------------------------------------------------------------------------
# robots.txt (RFC 9309)
# --------------------------------------------------------------------------


def parse_robots(text: str) -> list[dict]:
    """Parse robots.txt into groups:
    ``{"agents": [ua...], "rules": [(allow: bool, path: str)...],
    "extensions": {key: value}}``.  Consecutive User-agent lines open
    one group; rules before any User-agent line are ignored (RFC 9309
    §2.2.1); unknown keys inside a group are carried as extensions;
    blank lines and comments are skipped (a blank line does NOT close
    a group — only a new User-agent run after rules does)."""
    groups: list[dict] = []
    current: dict | None = None
    in_agent_run = False
    for raw_line in text.split("\n"):
        line = raw_line.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue  # malformed line: ignored per spec leniency
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_agent_run:
                current = {"agents": [], "rules": [], "extensions": {}}
                groups.append(current)
                in_agent_run = True
            current["agents"].append(value.lower())
        else:
            in_agent_run = False
            if current is None:
                continue  # rule before any user-agent: ignored
            if key in ("allow", "disallow"):
                current["rules"].append((key == "allow", value))
            else:
                current["extensions"][key] = value


    return groups


def _rule_matches(pattern: str, path: str) -> bool:
    """RFC 9309 path matching: prefix match with ``*`` (any run) and a
    trailing ``$`` (end anchor).

    Unanchored parts match leftmost-first (leftmost placement leaves
    the maximal suffix for later parts, so existence matching is
    exact).  For ``$``-anchored patterns the FINAL literal must match
    at the very END of the path — leftmost placement would wrongly
    reject ``/fish*.php$`` against ``/fish.php?x=.php`` — and a bare
    ``$`` (empty anchored pattern) matches only the empty path."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")

    # first part must match at the start
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    middle = parts[1:-1] if (anchored and len(parts) > 1) else parts[1:]
    for part in middle:
        if part == "":
            continue
        found = path.find(part, pos)
        if found < 0:
            return False
        pos = found + len(part)
    if not anchored:
        return True
    if len(parts) == 1:
        # no '*': anchored pattern must equal the whole path
        return pos == len(path)
    last = parts[-1]
    # the final literal must sit at the very end, reachable after the
    # positions already consumed by the earlier parts
    return path.endswith(last) and len(path) - len(last) >= pos


def _select_group(groups: list[dict], ua: str) -> dict | None:
    """The most-specific group for ``ua``: longest matching named
    agent token wins; the ``*`` group only if nothing matches."""
    ua = ua.lower()
    best = None
    best_len = -1
    star = None
    for g in groups:
        for agent in g["agents"]:
            if agent == "*":
                if star is None:
                    star = g
            elif agent in ua and len(agent) > best_len:
                best, best_len = g, len(agent)
    return best if best is not None else star


def robots_decision(
    groups: list[dict], ua: str, path: str
) -> tuple[bool, int]:
    """(allowed, winning_rule_length) for ``ua`` fetching ``path``.
    No applicable group or no matching rule => allowed with length 0;
    longest rule path wins, Allow beats Disallow on equal length;
    an empty Disallow value matches nothing (allow-all)."""
    g = _select_group(groups, ua)
    if g is None:
        return True, 0
    best_len = -1
    best_allow = True
    for allow, pattern in g["rules"]:
        if pattern == "":
            continue
        if _rule_matches(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and allow and not best_allow):
                best_len, best_allow = plen, allow
    if best_len < 0:
        return True, 0
    return best_allow, best_len


# --------------------------------------------------------------------------
# HTML tag tokenizer
# --------------------------------------------------------------------------

_RAWTEXT = {"script", "style"}


def iter_html_tokens(html: str) -> Iterator[tuple[str, object]]:
    """Yield ``("start", (tag, attrs))``, ``("end", tag)``,
    ``("text", s)``, ``("comment", s)`` over ``html``.  Lenient like a
    browser: unclosed constructs run to end-of-input, raw-text element
    bodies (script/style) are swallowed whole, names are
    case-folded."""
    i, n = 0, len(html)
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            if i < n:
                yield "text", html[i:]
            return
        if lt > i:
            yield "text", html[i:lt]
        if html.startswith("<!--", lt):
            end = html.find("-->", lt + 4)
            if end < 0:
                yield "comment", html[lt + 4 :]
                return
            yield "comment", html[lt + 4 : end]
            i = end + 3
            continue
        gt = html.find(">", lt)
        if gt < 0:
            yield "text", html[lt:]
            return
        inner = html[lt + 1 : gt]
        i = gt + 1
        if inner.startswith("!") or inner.startswith("?"):
            continue  # doctype / PI: skipped
        closing = inner.startswith("/")
        if closing:
            inner = inner[1:]
        # tag name = leading run of name characters
        j = 0
        while j < len(inner) and (inner[j].isalnum() or inner[j] in "-"):
            j += 1
        tag = inner[:j].lower()
        if not tag:
            yield "text", html[lt : gt + 1]
            continue
        if closing:
            yield "end", tag
            continue
        attrs: dict[str, str] = {}
        rest = inner[j:]
        k = 0
        m = len(rest)
        while k < m:
            while k < m and rest[k] in " \t\r\n/":
                k += 1
            if k >= m:
                break
            a0 = k
            while k < m and rest[k] not in " \t\r\n=/":
                k += 1
            name = rest[a0:k].lower()
            while k < m and rest[k] in " \t\r\n":
                k += 1
            if k < m and rest[k] == "=":
                k += 1
                while k < m and rest[k] in " \t\r\n":
                    k += 1
                if k < m and rest[k] in "\"'":
                    q = rest[k]
                    k += 1
                    v0 = k
                    while k < m and rest[k] != q:
                        k += 1
                    value = rest[v0:k]
                    k += 1  # past the closing quote (or end)
                else:
                    v0 = k
                    while k < m and rest[k] not in " \t\r\n":
                        k += 1
                    value = rest[v0:k]
            else:
                value = ""
            if name and name not in attrs:
                attrs[name] = value
        yield "start", (tag, attrs)
        if tag in _RAWTEXT:
            # swallow raw text to the matching close tag
            close = html.lower().find(f"</{tag}", i)
            if close < 0:
                yield "text", html[i:]
                return
            yield "text", html[i:close]
            gt2 = html.find(">", close)
            yield "end", tag
            i = n if gt2 < 0 else gt2 + 1


def extract_links(html: str) -> list[str]:
    """``<a href>`` values in document order — comment bodies and
    raw-text (script/style) contents never contribute."""
    out = []
    for kind, payload in iter_html_tokens(html):
        if kind == "start":
            tag, attrs = payload
            if tag == "a" and "href" in attrs:
                out.append(attrs["href"])
    return out


# --------------------------------------------------------------------------
# end-to-end queries
# --------------------------------------------------------------------------


def _robots_payload(doc_id: int) -> str:
    lines = ["# planted robots.txt", "User-agent: sparkbot"]
    if doc_id % 3 == 0:
        lines.append("User-agent: otherbot")
    lines += [
        "Disallow: /private/",
        f"Disallow: /tmp-{doc_id % 5}/",
        "Disallow: /*.tmp$",
        f"Crawl-delay: {1 + doc_id % 7}",
    ]
    if doc_id % 2 == 1:
        lines.append("Allow: /private/ok/")
    lines += [
        "",
        "User-agent: *",
        f"Disallow: /all-{doc_id % 3}/",
    ]
    return "\n".join(lines) + "\n"


_ROBOT_PROBES = [
    "/private/x",
    "/private/ok/y",
    "/tmp-3/z",
    "/all-1/w",
    "/public/p",
    # exercise the $-anchored wildcard rule /*.tmp$ — including the
    # repeated-final-literal path that leftmost-matching wrongly allows
    "/files/x.tmp",
    "/files/x.tmp.gz",
    "/a.tmp.tmp",
]


def _robots_stats(txt: str) -> dict:
    groups = parse_robots(str(txt))
    named = _select_group(groups, "sparkbot/1.0")
    denied = 0
    rule_len_sum = 0
    for p in _ROBOT_PROBES:
        allowed, plen = robots_decision(groups, "sparkbot/1.0", p)
        if not allowed:
            denied += 1
        rule_len_sum += plen
    return {
        "n_groups": len(groups),
        "n_rules": len(named["rules"]),
        "crawl_delay": int(named["extensions"]["crawl-delay"]),
        "denied_count": denied,
        "allowed_count": len(_ROBOT_PROBES) - denied,
        "rule_len_sum": rule_len_sum,
    }


@query(
    "crawl_robots_stats",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_groups,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS BIGINT)
             AS n_rules,
           CAST(1 + doc_id % 7 AS BIGINT) AS crawl_delay,
           -- /private/x always denied; the two .tmp$ probes
           -- (/files/x.tmp and /a.tmp.tmp) always denied
           CAST(3
                + CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END
                + CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END
                AS BIGINT) AS denied_count,
           CAST(8 - (3
                + CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END
                + CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS allowed_count,
           -- 9 for /private/ on probe 1, 7+7 for '/*.tmp$' twice
           CAST(23
                + CASE WHEN doc_id % 2 = 1 THEN 12 ELSE 9 END
                + CASE WHEN doc_id % 5 = 3 THEN 7 ELSE 0 END
                AS BIGINT) AS rule_len_sum
    FROM documents
    """,
)
def crawl_robots_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 end-to-end: per document a planted robots.txt (named
    group with UA run + extension key + parity-dependent Allow, plus a
    ``*`` group that must NOT apply to the named agent), evaluated for
    five probe paths as agent "sparkbot".  The oracle re-derives group
    and rule counts, the Crawl-delay extension, per-probe decisions
    (longest-match, Allow-beats-Disallow-on-tie, most-specific-group),
    and the winning rule lengths; a precedence mistake flips the
    counts."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _robots_payload, col="robots string")
    return decode_payloads(
        mm,
        _robots_stats,
        "n_groups long, n_rules long, crawl_delay long, denied_count long, "
        "allowed_count long, rule_len_sum long",
        col="robots",
    )


def _html_payload(doc_id: int) -> str:
    k = 2 + doc_id % 4
    links = "".join(
        f'<a href="http://ex.com/p{doc_id}/{j}" class="x">link {j}</a>\n'
        for j in range(k)
    )
    return (
        "<!doctype html><html><head>\n"
        f"<script>var trap = '<a href=\"http://fake/{doc_id}\">';</script>\n"
        f"<!-- <a href=\"/commented/{doc_id}\">no</a> -->\n"
        "<style>a { color: red; } /* <a href=/css> */</style>\n"
        "</head><body>\n"
        f"{links}"
        f"<a href='/rel/{doc_id}'>rel</a>\n"
        f"<a href=/u{doc_id} id=last>unquoted</a>\n"
        "</body></html>\n"
    )


def _html_stats(html: str) -> dict:
    hrefs = extract_links(str(html))
    n_abs = sum(1 for h in hrefs if h.startswith("http://"))
    return {
        "n_links": len(hrefs),
        "n_absolute": n_abs,
        "n_relative": len(hrefs) - n_abs,
        "href_len_sum": sum(len(h) for h in hrefs),
    }


@query(
    "text_html_links_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    abs_links AS (
      SELECT doc_id,
             sum(length('http://ex.com/p' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(t.i - 1 AS VARCHAR))) AS abs_len
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(d.k + 2 AS BIGINT) AS n_links,
           CAST(d.k AS BIGINT) AS n_absolute,
           CAST(2 AS BIGINT) AS n_relative,
           CAST(a.abs_len
                + length('/rel/' || CAST(d.doc_id AS VARCHAR))
                + length('/u' || CAST(d.doc_id AS VARCHAR))
                AS BIGINT) AS href_len_sum
    FROM d JOIN abs_links a ON a.doc_id = d.doc_id
    """,
)
def text_html_links_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction end-to-end with a REAL tag tokenizer: per
    document a planted HTML page whose <a href> population includes
    double-quoted absolute links, a single-quoted relative link, and
    an unquoted one — plus three traps that must contribute NOTHING
    (an anchor inside a script string, one inside a comment, one
    inside CSS).  The oracle re-derives link counts and href length
    sums from the planting formulas; a tokenizer that regexes over
    comments or script bodies overcounts."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _html_payload, col="html string")
    return decode_payloads(
        mm,
        _html_stats,
        "n_links long, n_absolute long, n_relative long, href_len_sum long",
        col="html",
    )


# --------------------------------------------------------------------------
# Sitemap XML (sitemaps.org protocol, public): the third leg of the
# frontier triangle — robots points at sitemaps, sitemaps enumerate
# URLs with lastmod/priority hints, pages link onward.
# --------------------------------------------------------------------------

_XML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),  # decoded LAST so "&amp;lt;" -> "&lt;" stays literal
]


def decode_xml_text(s: str) -> str:
    """The five predefined XML entities, with ``&amp;`` decoded last so
    double-escaped sequences survive literally."""
    for ent, ch in _XML_ENTITIES:
        s = s.replace(ent, ch)
    return s


def sitemap_entries(xml: str) -> list[dict]:
    """Walk a <urlset> sitemap with the tag tokenizer: one dict per
    <url>, capturing loc / lastmod / priority text (entity-decoded).
    Lenient like the rest of the tokenizer; entries missing <loc> are
    dropped (the protocol makes loc mandatory)."""
    entries: list[dict] = []
    current: dict | None = None
    field: str | None = None
    for kind, payload in iter_html_tokens(xml):
        if kind == "start":
            tag, _ = payload
            if tag == "url":
                current = {}
            elif tag in ("loc", "lastmod", "priority") and current is not None:
                field = tag
        elif kind == "end":
            if payload == "url":
                if current is not None and "loc" in current:
                    entries.append(current)
                current = None
            elif payload == field:
                field = None
        elif kind == "text" and current is not None and field is not None:
            current[field] = current.get(field, "") + decode_xml_text(
                payload.strip()
            )
    return entries


def _sitemap_payload(doc_id: int) -> str:
    k = 3 + doc_id % 5
    urls = []
    for j in range(k):
        day = 1 + (doc_id + j) % 28
        urls.append(
            "<url>"
            f"<loc>http://ex.com/s{doc_id}?a=1&amp;p={j}</loc>"
            f"<lastmod>2026-01-{day:02d}</lastmod>"
            f"<priority>0.{(doc_id + j) % 10}</priority>"
            "</url>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "\n".join(urls)
        + "\n</urlset>\n"
    )


def _sitemap_stats(xml: str) -> dict:
    es = sitemap_entries(str(xml))
    return {
        "n_urls": len(es),
        "loc_len_sum": sum(len(e["loc"]) for e in es),
        "lastmod_day_sum": sum(int(e["lastmod"][8:10]) for e in es),
        "priority_tenths_sum": sum(int(e["priority"][2]) for e in es),
    }


@query(
    "crawl_sitemap_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 5 AS k FROM documents),
    u AS (
      SELECT doc_id, k, t.i - 1 AS j,
             1 + (doc_id + t.i - 1) % 28 AS day,
             (doc_id + t.i - 1) % 10 AS prio
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i))
    SELECT doc_id,
           CAST(max(k) AS BIGINT) AS n_urls,
           CAST(sum(length('http://ex.com/s' || CAST(doc_id AS VARCHAR)
                           || '?a=1&p=' || CAST(j AS VARCHAR)))
                AS BIGINT) AS loc_len_sum,
           CAST(sum(day) AS BIGINT) AS lastmod_day_sum,
           CAST(sum(prio) AS BIGINT) AS priority_tenths_sum
    FROM u GROUP BY doc_id
    """,
)
def crawl_sitemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion end-to-end: per document a planted
    sitemaps.org <urlset> (entity-escaped query strings in <loc>,
    lastmod dates, decimal priorities) walked with the REAL tag
    tokenizer + XML entity decoding.  The oracle re-derives URL
    counts, entity-DECODED loc lengths (``&amp;`` counts as one
    character), day sums, and priority tenths; an entity or
    text-capture mistake shifts the lengths."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _sitemap_payload, col="xml string")
    return decode_payloads(
        mm,
        _sitemap_stats,
        "n_urls long, loc_len_sum long, lastmod_day_sum long, "
        "priority_tenths_sum long",
        col="xml",
    )


# --------------------------------------------------------------------------
# URL frontier: RFC 3986 normalization + host-keyed dedup — entirely
# JVM-side (no Python anywhere in the plan).  Dot-segment resolution
# (§5.2.4) runs as a higher-order ``aggregate`` over the split path,
# scheme/host case-folding, default-port stripping, and fragment
# removal as plain expressions; the frontier dedup is a per-host
# distinct-count aggregation (the shuffle a real frontier shards on,
# because politeness is per host).
# --------------------------------------------------------------------------

_NORMALIZE_PATH = (
    "aggregate("
    "  split(path, '/'),"
    "  cast(array() as array<string>),"
    "  (acc, seg) -> case"
    "      when seg = '.' or seg = '' then acc"
    "      when seg = '..' then slice(acc, 1, greatest(size(acc) - 1, 0))"
    "      else concat(acc, array(seg)) end,"
    "  acc -> concat('/', array_join(acc, '/')))"
)


def normalize_urls(df: DataFrame, url_col: str) -> DataFrame:
    """Add a ``norm_url`` column: lowercase scheme+host, default port
    stripped (:80 http / :443 https), fragment removed, dot segments
    resolved per RFC 3986 §5.2.4 — all built-in expressions, so the
    normalization lives inside whole-stage codegen.

    Deliberately STRICTER than §5.2.4 alone: ALL empty path segments
    are dropped, so ``//`` runs collapse (``/a//b`` → ``/a/b``) and a
    trailing ``/`` is removed (``/a/`` → ``/a``).  That is a frontier
    canonicalization choice (the same page is almost always served for
    both spellings, and duplicate fetches cost more than the rare
    semantic distinction), not an RFC equivalence claim — callers that
    need RFC-exact equality must not use this for comparison."""
    from pyspark.sql import functions as F

    scheme = F.lower(F.regexp_extract(url_col, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    hostport = F.lower(
        F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    out = (
        df.withColumn("scheme", scheme)
        .withColumn("hostport", hostport)
        .withColumn(
            "host",
            F.when(
                (F.col("scheme") == "http") & F.col("hostport").endswith(":80"),
                F.expr("substring(hostport, 1, length(hostport) - 3)"),
            )
            .when(
                (F.col("scheme") == "https")
                & F.col("hostport").endswith(":443"),
                F.expr("substring(hostport, 1, length(hostport) - 4)"),
            )
            .otherwise(F.col("hostport")),
        )
        .withColumn(
            "path",
            F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        )
        .withColumn(
            "query_part",
            F.regexp_extract(url_col, r"\?([^#]*)", 1),
        )
        .withColumn("norm_path", F.expr(_NORMALIZE_PATH))
        .withColumn(
            "norm_url",
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.col("norm_path"),
                F.when(
                    F.col("query_part") != "",
                    F.concat(F.lit("?"), F.col("query_part")),
                ).otherwise(F.lit("")),
            ),
        )
        .drop("scheme", "hostport", "path", "query_part", "norm_path")
    )
    return out


def _planted_raw_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): per document 2 + doc_id % 3 hostile raw URLs
    (uppercase scheme/host, explicit :80, ``/a/{j}/../b/./`` dot
    segments, fragments) plus one raw string that collides with the
    j = 0 URL only AFTER normalization.  Shared by the frontier-dedup
    and politeness-scheduling queries."""
    from pyspark.sql import functions as F

    k = (F.lit(2) + F.col("doc_id") % 3).cast("int")
    return docs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda j: F.concat(
                        F.lit("HTTP://WWW.Ex"),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit(".COM:80/a/"),
                        j.cast("string"),
                        F.lit("/../b/./c"),
                        F.col("doc_id").cast("string"),
                        F.lit("?q="),
                        j.cast("string"),
                        F.lit("#frag"),
                    ),
                ),
                # the normalization-collision twin of j = 0
                F.array(
                    F.concat(
                        F.lit("http://www.ex"),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit(".com/a/b/c"),
                        F.col("doc_id").cast("string"),
                        F.lit("?q=0"),
                    )
                ),
            )
        ).alias("url"),
    )


# shared by the one-shot frontier query and its streaming final-state
# projection (stream_projections.py) — the composed dedup state must
# land on the identical census
FRONTIER_ORACLE = """
    WITH d AS (
      SELECT doc_id, doc_id % 10 AS h, 2 + doc_id % 3 AS k FROM documents),
    uniq AS (
      SELECT d.h, d.doc_id,
             count(*) AS k_urls,
             sum(length('http://www.ex' || CAST(d.h AS VARCHAR)
                        || '.com/a/b/c' || CAST(d.doc_id AS VARCHAR)
                        || '?q=' || CAST(t.i - 1 AS VARCHAR))) AS len_sum
      FROM d, unnest(generate_series(1, CAST(d.k AS INT))) AS t(i)
      GROUP BY d.h, d.doc_id)
    SELECT 'www.ex' || CAST(h AS VARCHAR) || '.com' AS host,
           CAST(sum(k_urls + 1) AS BIGINT) AS n_raw,
           CAST(sum(k_urls) AS BIGINT) AS n_unique,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len_sum) AS BIGINT) AS norm_len_sum
    FROM uniq GROUP BY h
    """


@query("crawl_url_frontier_stats", oracle=FRONTIER_ORACLE)
def crawl_url_frontier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier construction end-to-end, Python-free: per document a
    planted set of hostile raw URLs (uppercase scheme/host, explicit
    default port, ``/a/{j}/../b/./`` dot segments, fragments, plus one
    raw string that collides with another only AFTER normalization),
    normalized with JVM-side RFC 3986 rules and deduplicated per host
    — the shuffle key a polite crawler shards on.  The oracle
    re-derives per-host raw/unique/doc counts and the exact normalized
    lengths from the planting formulas; any normalization miss (kept
    fragment, unresolved ``..``, un-stripped port) breaks dedup or the
    length hash.

    Scale shape: explode + one hash aggregation keyed by (host, url)
    collapsed map-side, then the host rollup; at 100 TB the frontier
    is exactly this plan over the link table."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    raw = _planted_raw_urls(docs)
    norm = normalize_urls(raw, "url")
    raw_agg = norm.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    uniq = (
        norm.select("host", "norm_url")
        .distinct()
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.length("norm_url")).alias("norm_len_sum"),
        )
    )
    return raw_agg.join(uniq, "host").select(
        "host",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("norm_len_sum").cast("long").alias("norm_len_sum"),
    )


# --------------------------------------------------------------------------
# politeness scheduling: the crawl-side operator after frontier dedup —
# each host's URLs are fetched sequentially, one every Crawl-delay
# seconds, so slot assignment is a rank within the host partition and
# fetch_at = slot * delay.  The shuffle key is the SAME host key the
# frontier dedup already shards on (politeness is per host); at 100 TB
# there are millions of hosts, so the window partitioning is wide —
# the 10-host planted corpus is small only because the oracle is.
# --------------------------------------------------------------------------


@query(
    "crawl_schedule_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 10 AS h, 2 + doc_id % 3 AS k FROM documents),
    urls AS (
      SELECT d.h,
             'http://www.ex' || CAST(d.h AS VARCHAR) || '.com/a/b/c'
               || CAST(d.doc_id AS VARCHAR) || '?q=' || CAST(t.i - 1 AS VARCHAR)
               AS norm_url
      FROM d, unnest(generate_series(1, CAST(d.k AS INT))) AS t(i)),
    sched AS (
      SELECT h, norm_url,
             (row_number() OVER (PARTITION BY h ORDER BY norm_url) - 1)
               * (1 + h % 7) AS fetch_at,
             row_number() OVER (PARTITION BY h ORDER BY norm_url) - 1 AS slot
      FROM urls)
    SELECT 'www.ex' || CAST(h AS VARCHAR) || '.com' AS host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(1 + h % 7 AS BIGINT) AS crawl_delay,
           CAST(max(fetch_at) AS BIGINT) AS makespan,
           CAST(sum(fetch_at) AS BIGINT) AS fetch_at_sum,
           CAST(count(DISTINCT fetch_at // 10) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN slot < 3 THEN length(norm_url) ELSE 0 END)
                AS BIGINT) AS first3_len_sum
    FROM sched GROUP BY h
    """,
)
def crawl_schedule_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduling over the deduped frontier: rank
    each host's unique URLs (deterministic URL order), assign fetch
    slot ``rank - 1`` and ``fetch_at = slot * crawl_delay`` (the
    host's parsed Crawl-delay, planted as ``1 + h % 7`` to match the
    robots corpus), then report per host the URL count, delay,
    makespan, total wait, the number of distinct 10-second fetch
    buckets actually used, and the total length of the first three
    scheduled URLs.  The oracle re-derives the schedule with its own
    window over the same unique-URL set, so a rank that is not dense
    per host, a mis-keyed delay, or a wrong dedup changes the hash.

    Plan shape: the planted-frontier explode, normalization, and
    (host, url) dedup collapse map-side; ONE shuffle on host carries
    both the dedup and the window rank (politeness is per host, so
    the rank reuses the dedup's partitioning); the final host rollup
    rides the same key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    # one explicit shuffle on host: hashpartitioning(host) satisfies
    # the clustered distribution for BOTH the (host, norm_url) distinct
    # and the per-host window rank, so neither inserts its own exchange
    uniq = (
        normalize_urls(_planted_raw_urls(docs), "url")
        .select("host", "norm_url")
        .repartition("host")
        .distinct()
    )
    delay = (
        F.lit(1)
        + F.regexp_extract("host", r"^www\.ex(\d+)\.com$", 1).cast("long") % 7
    )
    w = Window.partitionBy("host").orderBy("norm_url")
    sched = (
        uniq.withColumn("slot", F.row_number().over(w) - F.lit(1))
        .withColumn("crawl_delay", delay)
        .withColumn("fetch_at", F.col("slot") * F.col("crawl_delay"))
    )
    return sched.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.min("crawl_delay").cast("long").alias("crawl_delay"),
        F.max("fetch_at").cast("long").alias("makespan"),
        F.sum("fetch_at").cast("long").alias("fetch_at_sum"),
        F.countDistinct(F.expr("fetch_at div 10")).cast("long").alias("n_buckets"),
        F.sum(
            F.when(F.col("slot") < 3, F.length("norm_url")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("first3_len_sum"),
    )
