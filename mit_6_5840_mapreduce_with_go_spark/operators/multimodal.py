"""Multimodal column handling: opaque ``binary`` payloads + typed
metadata, with decode / feature-extract as Arrow-batched ``mapInPandas``.

No reference counterpart — north-star LLM-pipeline additions.  Two
decode paths:

- ``decode_ppm`` is a REAL pure-Python image decoder (binary PPM "P6",
  the netpbm format — public spec): it parses the header, validates the
  raster, and computes pixel statistics from the actual pixel bytes.
  ``mm_decode_ppm_stats`` drives it end-to-end over synthetic-but-valid
  P6 payloads built inside Spark, with a DuckDB oracle recomputing the
  same stats from the payload definition.
- ``decode_image_stub`` remains the clearly-marked deterministic STUB
  used by ``mm_decode_frames``'s plumbing oracle.
- ``decode_image_auto`` is the magic-byte dispatcher over the package's
  ten real decoders (PPM here; PNG in multimodal2; baseline JPEG in
  multimodal3; WAV/Y4M in multimodal4; GIF in multimodal6; QOI in
  multimodal7; progressive JPEG in multimodal8; BMP in multimodal9) —
  the content-based routing a real ingest pipeline runs on an
  undifferentiated payload column.

Either way the plumbing — binary column construction, schema, Arrow
batching, the mapInPandas signature and partitioning — is the real
100 TB shape (payloads never hit the driver; each task decodes its own
Arrow batches).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Model a multimodal table: utf-8 bytes of ``text`` stand in for an
    image/audio payload, with typed metadata alongside."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode: real image decoding (PIL/opencv) is unavailable in
    this container. Derives deterministic fake dimensions from the byte
    length so the pipeline around it is fully testable. A real deployment
    replaces ONLY this function body.
    """
    n = len(payload)
    return {"width": 64 + n % 1024, "height": 64 + (n * 7) % 768, "n_frames": 1 + n % 30}


def _jpeg_sof_kind(payload: bytes) -> tuple[int, int]:
    """Peek a JPEG's frame type without decoding: walk the marker
    stream to the first SOF segment and return ``(sof_marker,
    n_components)`` — enough to pick baseline-vs-progressive and
    gray-vs-color.  Raises ValueError if no SOF precedes the scan."""
    import struct as _st

    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected JPEG marker at offset {i}")
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = _st.unpack(">H", payload[i + 2 : i + 4])
        if marker in (0xC0, 0xC1, 0xC2):
            if i + 10 > len(payload):
                raise ValueError("truncated SOF segment")
            return marker, payload[i + 9]
        if marker == 0xDA:
            break
        i += 2 + seglen
    raise ValueError("no SOF marker before the first scan")


def decode_image_auto(payload: bytes) -> dict:
    """General-purpose media decode by MAGIC BYTES — the dispatch a
    real ingest pipeline runs when a lake column holds undifferentiated
    payload bytes.  Routes to the package's real decoders (every one a
    from-scratch public-spec implementation): PPM, PNG (incl. Adam7),
    baseline JPEG gray/color (all supported samplings), progressive
    (SOF2) JPEG gray/color, GIF, QOI, BMP, WAV, and Y4M.  Returns the
    routed decoder's dict with a ``format`` key prepended; raises
    ValueError on unrecognized or malformed payloads.

    This retires the former ``decode_image_real`` NotImplementedError
    stub: the suffix dispatch ``mm_webdataset_ingest_stats`` does per
    member name, done on content instead."""
    if payload.startswith(b"P6"):
        out = decode_ppm(payload)
        fmt = "ppm"
    elif payload.startswith(b"\x89PNG\r\n\x1a\n"):
        from .multimodal2 import decode_png

        out = decode_png(payload)
        fmt = "png"
    elif payload.startswith(b"\xff\xd8"):
        sof, ncomp = _jpeg_sof_kind(payload)
        if ncomp not in (1, 3):
            raise ValueError(f"unsupported JPEG component count {ncomp}")
        if sof == 0xC2:
            from .multimodal8 import (
                decode_jpeg_progressive_color,
                decode_jpeg_progressive_gray,
            )

            out = (
                decode_jpeg_progressive_gray(payload)
                if ncomp == 1
                else decode_jpeg_progressive_color(payload)
            )
            fmt = "jpeg_progressive_gray" if ncomp == 1 else "jpeg_progressive_color"
        else:
            from .multimodal3 import decode_jpeg_color, decode_jpeg_gray

            out = (
                decode_jpeg_gray(payload)
                if ncomp == 1
                else decode_jpeg_color(payload)
            )
            fmt = "jpeg_gray" if ncomp == 1 else "jpeg_color"
    elif payload.startswith((b"GIF87a", b"GIF89a")):
        from .multimodal6 import decode_gif

        out = decode_gif(payload)
        fmt = "gif"
    elif payload.startswith(b"qoif"):
        from .multimodal7 import decode_qoi

        out = decode_qoi(payload)
        fmt = "qoi"
    elif payload.startswith(b"BM"):
        from .multimodal9 import decode_bmp

        out = decode_bmp(payload)
        fmt = "bmp"
    elif payload.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        from .multimodal4 import decode_wav

        out = decode_wav(payload)
        fmt = "wav"
    elif payload.startswith(b"YUV4MPEG2"):
        from .multimodal4 import decode_y4m_sampled

        frames = decode_y4m_sampled(payload, 1)
        out = {
            "n_frames": len(frames),
            "width": frames[0]["width"] if frames else 0,
            "height": frames[0]["height"] if frames else 0,
            "sum_y": sum(f["sum_y"] for f in frames),
        }
        fmt = "y4m"
    else:
        raise ValueError(
            f"unrecognized payload (first bytes {payload[:8]!r})"
        )
    return {"format": fmt, **out}


def decode_ppm(payload: bytes) -> dict:
    """REAL pure-Python decoder for binary PPM ("P6", netpbm — public
    spec: magic, whitespace/comment-separated width height maxval, one
    whitespace byte, then width*height*3 RGB raster bytes at maxval<=255).

    Returns the dimensions plus pixel statistics computed from the
    ACTUAL raster bytes (integer-exact sum/min/max; the mean divides two
    exact integers).  Raises ValueError on malformed input — a decoder
    that can't reject garbage isn't a decoder.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (missing P6 magic)")
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # header comment runs to newline
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        vals.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates maxval from the raster
    width, height, maxval = vals
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported maxval {maxval}")
    raster = payload[i:]
    if len(raster) != width * height * 3:
        raise ValueError(
            f"raster is {len(raster)} bytes, expected {width * height * 3}"
        )
    return {
        "width": width,
        "height": height,
        "n_px": len(raster),
        "sum_px": sum(raster),
        "min_px": min(raster),
        "max_px": max(raster),
    }


@query(
    "mm_binary_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text)                  AS content_md5,
           ord(substr(text, 1, 1))    AS head_byte
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata extraction over the binary payload — native expressions
    only (octet_length/md5 run on the JVM against the bytes)."""
    mm = with_binary_payload(load_table(spark, sf_dir, "documents", fan_out=True))
    return mm.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        F.ascii(F.decode(F.substring("payload", 1, 1), "UTF-8")).alias("head_byte"),
    )


@query(
    "mm_decode_frames",
    oracle="""
    SELECT doc_id,
           64 + octet_length(encode(text)) % 1024       AS width,
           64 + (octet_length(encode(text)) * 7) % 768  AS height,
           1 + octet_length(encode(text)) % 30          AS n_frames
    FROM documents
    """,
)
def mm_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas: each task
    pulls its Arrow batches, runs the (stubbed) decoder per payload, and
    emits a typed frame-metadata row. The oracle checks the stub's
    arithmetic end-to-end through the Python boundary, proving batch
    shape + schema + decode plumbing."""
    mm = with_binary_payload(load_table(spark, sf_dir, "documents", fan_out=True)).select(
        "doc_id", "payload"
    )
    return decode_payloads(
        mm,
        decode_image_stub,
        "width long, height long, n_frames long",
    )


@query(
    "mm_decode_ppm_stats",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w,
             3 + doc_id % 4 AS h,
             rpad(text, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INT),
                  'abcdefgh') AS s
      FROM documents),
    px AS (
      SELECT doc_id, w, h, ord(substr(s, CAST(i AS INT), 1)) AS v
      FROM p, unnest(generate_series(1, CAST(w * h * 3 AS INT))) AS t(i))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           round(CAST(sum(v) AS BIGINT) * 1.0 / count(*), 6) AS mean_px
    FROM px GROUP BY 1, 2, 3
    """,
)
def mm_decode_ppm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: build a valid binary PPM (P6) per
    document INSIDE Spark (header + RGB raster; the raster bytes are the
    doc's ASCII text right-padded/truncated to width*height*3 — 100%
    printable, so byte values equal code points and the oracle can
    recompute them), ship the binary column through Arrow-batched
    mapInPandas, parse it with the pure-Python ``decode_ppm``, and emit
    pixel statistics computed from the decoded raster bytes.

    Unlike ``mm_decode_frames`` (whose compressed-format decoder is a
    documented stub), the width/height/sum/min/max here come from ACTUAL
    pixel bytes a real parser extracted — malformed payloads raise.  The
    DuckDB oracle rebuilds the raster definition and aggregates the same
    code points, so a header-parsing or offset bug (e.g. eating the
    first raster byte) breaks the hash match.

    Scale shape: payload construction and decode are narrow per-row maps
    (no shuffle until the final nothing — the output is row-per-doc);
    Arrow batches bound Python-boundary overhead; payloads never touch
    the driver."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # rpad with a per-row length needs the SQL form (the function API
    # takes a literal int); all-ASCII text means encode() is a byte-for-
    # char identity, so the raster definition is engine-portable.
    payload = F.expr(
        "encode(concat('P6\\n', 4 + doc_id % 5, ' ', 3 + doc_id % 4,"
        " '\\n255\\n', rpad(text, CAST((4 + doc_id % 5) * (3 + doc_id % 4)"
        " * 3 AS INT), 'abcdefgh')), 'UTF-8')"
    )
    mm = docs.select("doc_id", payload.alias("payload"))
    stats = decode_payloads(
        mm,
        decode_ppm,
        "width long, height long, n_px long, sum_px long, min_px long, "
        "max_px long",
    )
    # the mean divides two exact integers and rounds JVM-side (HALF_UP,
    # matching DuckDB) — never inside Python where numpy rounds half-even
    return stats.withColumn(
        "mean_px", F.round(F.col("sum_px") * 1.0 / F.col("n_px"), 6)
    )


@query(
    "mm_embedding_dim_stats",
    oracle="""
    WITH x AS (
      SELECT i - 1 AS dim,
             CAST(floor(v[i] * 10000000) AS BIGINT) AS q,
             v[i] AS raw
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           unnest(generate_series(1, len(v))) AS t(i)),
    s AS (
      SELECT dim, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS s1,
             sum(CAST(q AS HUGEINT) * q) AS s2,
             min(raw) AS mn, max(raw) AS mx
      FROM x GROUP BY dim)
    SELECT dim, CAST(n AS BIGINT) AS n,
           round(CAST(s1 AS DOUBLE) / 1e7 / n, 6) AS mean,
           round(sqrt((CAST(s2 AS DOUBLE) / 1e14
                       - (CAST(s1 AS DOUBLE) / 1e7) * (CAST(s1 AS DOUBLE) / 1e7) / n)
                      / (n - 1)), 6) AS stddev,
           round(mn, 6) AS dim_min, round(mx, 6) AS dim_max
    FROM s
    """,
)
def mm_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics over the embedding column (the
    normalization / whitening precursor): mean, sample stddev, min, max
    for each of the 64 dimensions.

    Moments accumulate as EXACT integer sums of floor(x * 1e7) — double
    partial sums would make the 6th decimal depend on partition count
    (the stats_price_moments recipe, applied per dimension); min/max are
    order-free so they stay raw doubles.  The quantization error (<1e-7
    per element) is inside the 1e-6 reporting precision.

    Scale: posexplode is a narrow 64x fan-out that stays in codegen;
    the agg groups 64 keys with map-side partials, so the single shuffle
    carries 64 rows per task regardless of corpus size.  s2 accumulates
    in DECIMAL(38,0) (q^2 ~ 1e14 x trillions of rows overflows int64;
    Spark would wrap silently, DuckDB widens to HUGEINT)."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "raw")
    )
    q = F.floor(F.col("raw") * 1e7).cast("decimal(38,0)")
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).alias("s2"),
        F.min("raw").alias("mn"),
        F.max("raw").alias("mx"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s1 / 1e7 / n
    var = (s2 / 1e14 - (s1 / 1e7) * (s1 / 1e7) / n) / (n - 1)
    return s.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(var), 6).alias("stddev"),
        F.round("mn", 6).alias("dim_min"),
        F.round("mx", 6).alias("dim_max"),
    )


# --------------------------------------------------------------------------
# Embedding drift: population-stability index per dimension
# --------------------------------------------------------------------------
_PSI_DIMS = 8  # audit the first 8 dimensions
_PSI_EDGES = (-0.2, -0.1, 0.0, 0.1, 0.2)  # 6 fixed bins
_PSI_NB = len(_PSI_EDGES) + 1


def _psi_bucket_sql(v: str) -> str:
    cases = " ".join(
        f"WHEN {v} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES)
    )
    return f"(CASE {cases} ELSE {len(_PSI_EDGES)} END)"


@query(
    "mm_embedding_drift_psi",
    oracle=f"""
    WITH d AS (
      SELECT vec_id % 2 AS cohort, CAST(t.i - 1 AS INT) AS dim,
             {_psi_bucket_sql(f"CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)")} AS bucket
      FROM embeddings, range(1, {_PSI_DIMS + 1}) t(i)),
    c AS (
      SELECT dim, bucket,
             sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS nb
      FROM d GROUP BY dim, bucket),
    t AS (
      SELECT dim, sum(na) AS ta, sum(nb) AS tb FROM c GROUP BY dim),
    p AS (
      SELECT c.dim,
             (na + 1.0) / (ta + {_PSI_NB}) AS pa,
             (nb + 1.0) / (tb + {_PSI_NB}) AS pb
      FROM c JOIN t ON c.dim = t.dim)
    SELECT dim,
           round(sum((pa - pb) * ln(pa / pb)), 4) AS psi
    FROM p GROUP BY dim
    """,
)
def mm_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index per embedding dimension between two
    cohorts (even vs odd vec_id — swap in a date column in production):
    the standard ML-monitoring statistic for feature drift. Fixed bin
    edges + Laplace-smoothed integer counts make the statistic an exact
    function of exact counts, so both engines agree bit-for-bit before
    the round.

    Scale: the explode is bounded to the audited dimensions; counting is
    one map-side-combinable groupBy on (dim, bucket); everything after
    runs on the {_PSI_DIMS}x{_PSI_NB}-row histogram table. PSI ~ 0 here
    (both cohorts draw from one distribution) — the operator's job is
    exactly that readout; alert thresholds (0.1/0.25) sit downstream."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    pairs = emb.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode(F.slice("embedding", 1, _PSI_DIMS)).alias("dim", "v"),
    )
    bucket = F.lit(len(_PSI_EDGES))
    for i in reversed(range(len(_PSI_EDGES))):
        bucket = F.when(
            F.col("v").cast("double") < _PSI_EDGES[i], F.lit(i)
        ).otherwise(bucket)
    c = pairs.select("cohort", "dim", bucket.alias("bucket")).groupBy(
        "dim", "bucket"
    ).agg(
        F.sum((F.col("cohort") == 0).cast("long")).alias("na"),
        F.sum((F.col("cohort") == 1).cast("long")).alias("nb"),
    )
    w = W.partitionBy("dim")
    pa = (F.col("na") + 1.0) / (F.sum("na").over(w) + _PSI_NB)
    pb = (F.col("nb") + 1.0) / (F.sum("nb").over(w) + _PSI_NB)
    return (
        c.select("dim", pa.alias("pa"), pb.alias("pb"))
        .groupBy("dim")
        .agg(
            F.round(
                F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
                4,
            ).alias("psi")
        )
    )


# --------------------------------------------------------------------------
# PCA top component via integer fixed-point power iteration
# --------------------------------------------------------------------------
_PCA_DIM = 64
_PCA_SCALE = 1_000_000  # micro-unit quantization


def _pca_oracle() -> str:
    steps = ""
    prev = "v0"
    for k in (1, 2, 3):
        steps += f""",
    gv{k} AS (
      SELECT gi AS i, sum(g.g * {prev}.v) AS x
      FROM g JOIN {prev} ON {prev}.i = g.gj GROUP BY 1),
    m{k} AS (SELECT max(abs(x)) AS m FROM gv{k}),
    v{k} AS (
      SELECT i, CAST(CASE WHEN x < 0
                   THEN -((-x) * {_PCA_SCALE} // m)
                   ELSE (x * {_PCA_SCALE}) // m END AS HUGEINT) AS v
      FROM gv{k}, m{k})"""
        prev = f"v{k}"
    return f"""
    WITH q AS (
      SELECT vec_id, i,
             CAST(floor(embedding[i+1] * {_PCA_SCALE}) AS BIGINT) AS e
      FROM embeddings, unnest(range({_PCA_DIM})) AS t(i)),
    g AS (
      SELECT a.i AS gi, b.i AS gj,
             CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS HUGEINT) AS g
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY 1, 2),
    v0 AS (SELECT i, CAST({_PCA_SCALE} AS HUGEINT) AS v
           FROM range({_PCA_DIM}) t(i)){steps},
    den AS (SELECT sum(v * v) AS d FROM v3),
    gv4 AS (
      SELECT gi AS i, sum(g.g * v3.v) AS x
      FROM g JOIN v3 ON v3.i = g.gj GROUP BY 1),
    num AS (SELECT sum(gv4.x * v3.v) AS n
            FROM gv4 JOIN v3 ON v3.i = gv4.i),
    tr AS (SELECT sum(g) AS t FROM g WHERE gi = gj)
    SELECT v3.i AS dim_i,
           round(CAST(v3.v AS DOUBLE) / sqrt(CAST(d AS DOUBLE)), 4)
             AS loading,
           round(100.0 * ((CAST(n AS DOUBLE) / CAST(d AS DOUBLE))
                          / CAST(t AS DOUBLE)), 4) AS explained_pct
    FROM v3, den, num, tr
    """


@query("mm_pca_power_iteration", oracle=_pca_oracle())
def mm_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by THREE unrolled
    power-iteration supersteps in integer fixed-point arithmetic — the
    drift/structure probe ("is one direction eating the variance?") run
    entirely relationally, like the k-means/PageRank/BFS family.

    Exactness: embeddings quantize to integer micro-units via floor
    (round() is HALF_UP-on-BigDecimal in Spark but nearbyint-style in
    DuckDB — floats near .5 micro-boundaries diverge; floor of the
    identical double never does), so the gram
    matrix, every matvec, the rescaling (sign-split truncating integer
    division — DuckDB ``//`` floors, Spark ``div`` truncates; on
    abs-values they agree), the Rayleigh numerator/denominator, and the
    trace are EXACT integers — zero float accumulation anywhere, and
    the final loadings/explained-variance are single exact-int
    divisions. This is the only way a 64-sum matvec is bit-identical
    across engines (double groupBy sums are order-sensitive).

    Scale: the gram (d^2 cells) is one map-side-combinable aggregate —
    at 100 TB you'd form per-partition outer-product partials (the
    tall-skinny gram trick — implemented below): each Arrow batch
    contributes one d^2-entry integer outer-product partial computed as
    a numpy int64 matmul (exact: |e| <= ~2.1e6, so a partial sum
    overflows int64 only past ~2e6 rows per batch; Arrow batches cap at
    spark.sql.execution.arrow.maxRecordsPerBatch = 10k), and ONE
    map-side-combinable groupBy folds the partials — the shuffle
    carries d^2 rows per task regardless of row count, with no 64x
    explode self-join materialization in between.  Each matvec then
    joins the d^2-row gram against a d-row broadcast vector.  Nothing
    scales with row count after the gram."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        idx = np.arange(_PCA_DIM, dtype=np.int64)
        gi = np.repeat(idx, _PCA_DIM)
        gj = np.tile(idx, _PCA_DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            # multiply in FLOAT32, matching both engines (Spark float *
            # int-literal and DuckDB float * integer both run in FLOAT;
            # upcasting to float64 first flips floor() on ~0.4% of
            # elements — measured 548/128000 at sf0.1)
            e = np.floor(
                np.stack(pdf["embedding"].values).astype(np.float32)
                * np.float32(_PCA_SCALE)
            ).astype(np.int64)
            part = e.T @ e  # exact int64 (see docstring bound)
            yield pd.DataFrame(
                {"gi": gi, "gj": gj, "p": part.reshape(-1)}
            )

    # localCheckpoint, not persist+count (r13 optimization, guide
    # §3.3/§5): the gram and each iteration's vector appear 2+ times in
    # the next iteration's plan, and persist does not truncate the
    # logical plan — the unrolled 3-iteration query optimized a
    # 13,406-line tree (Catalyst time, not data).  Checkpointing the
    # d^2-row gram and the d-row vectors collapses each iteration to a
    # constant-size plan over materialized leaves.
    g = (
        emb.select("embedding")
        .mapInPandas(gram_partials, schema="gi int, gj int, p long")
        .groupBy("gi", "gj")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("g"))
        .localCheckpoint()
    )

    v = spark.range(_PCA_DIM).select(
        F.col("id").cast("int").alias("i"),
        F.lit(_PCA_SCALE).cast("decimal(38,0)").alias("v"),
    )
    for _ in range(3):
        gv = (
            g.join(F.broadcast(v), v.i == g.gj)
            .groupBy("gi")
            .agg(F.sum(F.col("g") * F.col("v")).cast("decimal(38,0)").alias("x"))
            .select(F.col("gi").alias("i"), "x")
        )
        m = gv.agg(F.max(F.abs(F.col("x"))).alias("m"))
        v = (
            gv.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.when(
                    F.col("x") < 0,
                    -F.expr(f"(-x) * {_PCA_SCALE} div m"),
                )
                .otherwise(F.expr(f"x * {_PCA_SCALE} div m"))
                .cast("decimal(38,0)")
                .alias("v"),
            )
            .localCheckpoint()
        )

    den = v.agg(F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("d"))
    gv4 = (
        g.join(F.broadcast(v), v.i == g.gj)
        .groupBy("gi")
        .agg(F.sum(F.col("g") * F.col("v")).cast("decimal(38,0)").alias("x"))
        .select(F.col("gi").alias("i"), "x")
    )
    num = gv4.join(F.broadcast(v), "i").agg(
        F.sum(F.col("x") * F.col("v")).cast("decimal(38,0)").alias("n")
    )
    tr = g.filter(F.col("gi") == F.col("gj")).agg(
        F.sum("g").cast("decimal(38,0)").alias("t")
    )
    return (
        v.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("i").alias("dim_i"),
            F.round(
                F.col("v").cast("double") / F.sqrt(F.col("d").cast("double")), 4
            ).alias("loading"),
            F.round(
                100.0
                * (
                    (F.col("n").cast("double") / F.col("d").cast("double"))
                    / F.col("t").cast("double")
                ),
                4,
            ).alias("explained_pct"),
        )
    )


# --------------------------------------------------------------------------
# Resize planning (the resize leg of decode → resize → feature-extract)
# --------------------------------------------------------------------------
_RESIZE_TARGET = 224


@query(
    "mm_resize_plan",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             64 + octet_length(encode(text)) % 1024      AS w,
             64 + (octet_length(encode(text)) * 7) % 768 AS h
      FROM documents)
    SELECT doc_id, w AS src_w, h AS src_h,
           CASE WHEN w >= h THEN {_RESIZE_TARGET}
                ELSE greatest(1, (w * {_RESIZE_TARGET}) // h) END AS dst_w,
           CASE WHEN w >= h THEN greatest(1, (h * {_RESIZE_TARGET}) // w)
                ELSE {_RESIZE_TARGET} END AS dst_h,
           (w * h) >= (CASE WHEN w >= h THEN {_RESIZE_TARGET}
                ELSE greatest(1, (w * {_RESIZE_TARGET}) // h) END
                * CASE WHEN w >= h
                       THEN greatest(1, (h * {_RESIZE_TARGET}) // w)
                       ELSE {_RESIZE_TARGET} END) AS is_downscale
    FROM d
    """,
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage of the multimodal pipeline (decode → RESIZE →
    feature-extract): aspect-preserving fit of each decoded frame into
    224x224, planned with pure integer arithmetic (floor-divided target
    dims, floor >= 1) — the actual pixel resample belongs to the stubbed
    decoder body; THIS op is the engine-side contract every deployment
    keeps: deterministic target geometry, schema, and downscale flag.

    Scale: native expressions over the decoded metadata (no Python);
    composes with mm_decode_frames' mapInPandas stage which it feeds."""
    d = mm_decode_frames(spark, sf_dir).select(
        "doc_id", F.col("width").alias("w"), F.col("height").alias("h")
    )
    t = _RESIZE_TARGET
    dst_w = F.when(
        F.col("w") >= F.col("h"), F.lit(t)
    ).otherwise(F.greatest(F.lit(1), F.expr(f"(w * {t}) div h")))
    dst_h = F.when(
        F.col("w") >= F.col("h"),
        F.greatest(F.lit(1), F.expr(f"(h * {t}) div w")),
    ).otherwise(F.lit(t))
    return d.select(
        "doc_id",
        F.col("w").alias("src_w"),
        F.col("h").alias("src_h"),
        dst_w.alias("dst_w"),
        dst_h.alias("dst_h"),
        ((F.col("w") * F.col("h")) >= (dst_w * dst_h)).alias("is_downscale"),
    )


# --------------------------------------------------------------------------
# magic-byte auto-dispatch, end-to-end (round 7)
# --------------------------------------------------------------------------

# Mixed-format corpus: one shared planted-pixel formula across the four
# RGB formats so the oracle computes ONE sum; GIF is palette-indexed
# with its own integer palette formula.
_AUTO_FMTS = ("ppm", "png", "qoi", "bmp", "gif")


def _auto_dims(doc_id: int) -> tuple[int, int]:
    return 3 + doc_id % 5, 2 + doc_id % 4


def _auto_pix(doc_id: int, x: int, y: int, c: int) -> int:
    return (doc_id * 11 + x * 7 + y * 19 + c * 23) % 256


def _auto_payload(doc_id: int) -> bytes:
    return _image_payload(doc_id % 5, doc_id)


def _image_payload(fam: int, doc_id: int) -> bytes:
    """Planted still-image payload for family index ``fam`` (0 ppm,
    1 png, 2 qoi, 3 bmp, 4 gif) — shared with the total-triage corpus."""
    from .multimodal2 import encode_png
    from .multimodal6 import encode_gif
    from .multimodal7 import encode_qoi
    from .multimodal9 import encode_bmp

    w, h = _auto_dims(doc_id)
    pix = lambda x, y, c, d=doc_id: _auto_pix(d, x, y, c)  # noqa: E731
    if fam == 0:
        raster = bytes(
            pix(x, y, c) for y in range(h) for x in range(w) for c in range(3)
        )
        return f"P6\n{w} {h}\n255\n".encode() + raster
    if fam == 1:
        return encode_png(w, h, pix)
    if fam == 2:
        return encode_qoi(w, h, lambda x, y: (pix(x, y, 0), pix(x, y, 1), pix(x, y, 2)))
    if fam == 3:
        return encode_bmp(w, h, pix)
    palette = [
        (
            (doc_id + i * 31) % 256,
            (doc_id * 3 + i * 17) % 256,
            (doc_id * 5 + i * 13) % 256,
        )
        for i in range(8)
    ]
    return encode_gif(w, h, palette, lambda x, y, d=doc_id: (d + x + y * 3) % 8)


def _auto_stats(p: bytes) -> dict:
    out = decode_image_auto(p)
    if out["format"] in ("ppm", "png"):
        byte_sum = out["sum_px"]
    else:
        byte_sum = out["sum_r"] + out["sum_g"] + out["sum_b"]
    return {
        "format": out["format"],
        "width": out["width"],
        "height": out["height"],
        "n_px": out["width"] * out["height"],
        "byte_sum": byte_sum,
    }


@query(
    "mm_decode_auto_dispatch_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 5 AS fam,
             3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
      FROM documents),
    rgb AS (
      SELECT doc_id,
             sum((doc_id * 11 + (((t.j - 1) // 3) % w) * 7
                  + ((t.j - 1) // (3 * w)) * 19
                  + ((t.j - 1) % 3) * 23) % 256) AS s
      FROM d, unnest(generate_series(1, CAST(w * h * 3 AS INT))) AS t(j)
      WHERE fam < 4 GROUP BY doc_id),
    gif AS (
      SELECT doc_id,
             sum((doc_id + ((doc_id + ((t.j - 1) % w)
                             + ((t.j - 1) // w) * 3) % 8) * 31) % 256
                 + (doc_id * 3 + ((doc_id + ((t.j - 1) % w)
                                   + ((t.j - 1) // w) * 3) % 8) * 17) % 256
                 + (doc_id * 5 + ((doc_id + ((t.j - 1) % w)
                                   + ((t.j - 1) // w) * 3) % 8) * 13) % 256)
               AS s
      FROM d, unnest(generate_series(1, CAST(w * h AS INT))) AS t(j)
      WHERE fam = 4 GROUP BY doc_id)
    SELECT d.doc_id,
           CASE fam WHEN 0 THEN 'ppm' WHEN 1 THEN 'png' WHEN 2 THEN 'qoi'
                    WHEN 3 THEN 'bmp' ELSE 'gif' END AS format,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(coalesce(rgb.s, gif.s) AS BIGINT) AS byte_sum
    FROM d
    LEFT JOIN rgb ON rgb.doc_id = d.doc_id
    LEFT JOIN gif ON gif.doc_id = d.doc_id
    """,
)
def mm_decode_auto_dispatch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte dispatch end-to-end: a mixed-format payload column
    (PPM/PNG/QOI/BMP/GIF cycling by doc_id, one shared planted-pixel
    formula for the RGB formats, an integer palette for GIF) is decoded
    by ``decode_image_auto`` — routing on CONTENT, with no format hint —
    and the per-document format tag, dimensions, and total sample sum
    are value-hash-checked against the DuckDB re-derivation.  A wrong
    route (e.g. QOI bytes hitting the BMP parser) errors or changes
    byte_sum; a right route through a wrong decoder breaks the hash the
    same way the single-format queries do.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    identical to the rest of the decode family; at 100 TB the encode
    stage is replaced by real mixed payload bytes from the lake and the
    dispatch walk is unchanged (this IS the undifferentiated-column
    ingest case the dispatcher exists for)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _auto_payload)
    return decode_payloads(
        mm,
        _auto_stats,
        "format string, width long, height long, n_px long, byte_sum long",
    )
