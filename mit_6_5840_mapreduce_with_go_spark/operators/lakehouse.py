"""Lakehouse table-format operators — the metadata layer a 100 TB
training-data lake actually plans scans from, completing the at-rest
format stack (parquet footer + Avro container, round 8) with the other
three pillars:

- **ORC** (``decode_orc_footer``): the real tail-first walk of the
  public ORC file layout (Apache ORC spec): 1-byte postscript length
  at EOF, protobuf PostScript (footer length, compression codec,
  ``"ORC"`` magic at field 8000), protobuf Footer (header/content
  lengths, repeated StripeInformation submessages, the flattened Type
  tree, file row count), with stripe-extent and row-count
  cross-validation.  Reuses the generic protobuf wire walker
  (``tfrecord.parse_proto``) — no format library.
- **Delta Lake** (``table_delta_log_replay``): transaction-log replay
  — JSON action lines ({"add": {...}} / {"remove": {...}}) parsed with
  ``from_json`` and folded latest-action-wins per file path, ENTIRELY
  JVM-side (the plan is Python-free): the live-file census after K
  commits is what every Delta reader computes before touching data.
- **Iceberg** (``table_iceberg_manifest_census``): snapshot planning
  over a manifest-list Avro container (the object-store read Iceberg
  does FIRST): per-manifest added/deleted row counts and status,
  rolled into the live-row census for the latest snapshot.

All three plant their inputs from doc_id formulas so the DuckDB oracle
re-derives every count; decoders raise ValueError on malformed input.

Scale shape: metadata payloads are KB-sized regardless of table size —
the decode legs are the standard two-stage stateless Arrow-batched
map; the Delta replay is one narrow shuffle keyed by (table, path),
exactly the replay a cluster-side Delta planner runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .avro_container import decode_avro_container, encode_avro_container
from .tfrecord import _pb_enc_varint, _pb_len, _pb_tag, parse_proto
from .payloads import decode_payloads, synth_payloads


# ---------------------------------------------------------------------------
# ORC: postscript + footer walk
# ---------------------------------------------------------------------------

_ORC_MAGIC = b"ORC"


def encode_orc(
    stripes: list[tuple[int, int, int, int]], kinds: list[int]
) -> bytes:
    """Spec-shaped ORC file: ``stripes`` is a list of (numberOfRows,
    indexLength, dataLength, footerLength); ``kinds`` the column type
    kinds under the root STRUCT.  Stripe byte ranges are deterministic
    filler (the metadata walk is the surface, not column decoding)."""
    body = bytearray(_ORC_MAGIC)  # headerLength = 3
    infos = []
    for rows, ilen, dlen, flen in stripes:
        offset = len(body)
        body += bytes((offset + k) % 251 for k in range(ilen + dlen + flen))
        info = (
            _pb_tag(1, 0) + _pb_enc_varint(offset)
            + _pb_tag(2, 0) + _pb_enc_varint(ilen)
            + _pb_tag(3, 0) + _pb_enc_varint(dlen)
            + _pb_tag(4, 0) + _pb_enc_varint(flen)
            + _pb_tag(5, 0) + _pb_enc_varint(rows)
        )
        infos.append(info)
    content_length = len(body)
    root = bytearray(_pb_tag(1, 0) + _pb_enc_varint(12))  # STRUCT
    for i, _ in enumerate(kinds):
        root += _pb_tag(2, 0) + _pb_enc_varint(i + 1)  # subtypes
        root += _pb_len(3, f"c{i}".encode())  # fieldNames
    footer = bytearray(
        _pb_tag(1, 0) + _pb_enc_varint(3)  # headerLength
        + _pb_tag(2, 0) + _pb_enc_varint(content_length)
    )
    for info in infos:
        footer += _pb_len(3, info)
    footer += _pb_len(4, bytes(root))
    for kind in kinds:
        footer += _pb_len(4, _pb_tag(1, 0) + _pb_enc_varint(kind))
    footer += _pb_tag(6, 0) + _pb_enc_varint(sum(s[0] for s in stripes))
    ps = (
        _pb_tag(1, 0) + _pb_enc_varint(len(footer))
        + _pb_tag(2, 0) + _pb_enc_varint(0)  # compression NONE
        + _pb_len(8000, _ORC_MAGIC)
    )
    if len(ps) > 255:
        raise ValueError("postscript too long")
    return bytes(body) + bytes(footer) + ps + bytes([len(ps)])


def decode_orc_footer(payload: bytes) -> dict:
    """REAL tail-first ORC metadata walk (see module docstring).
    Returns stripe/type/row census; raises ValueError on malformed
    input — wrong magic (head or postscript), non-NONE compression,
    stripe extents outside the content region, or a footer row count
    that disagrees with the stripe sum."""
    if payload[:3] != _ORC_MAGIC:
        raise ValueError("not an ORC file (bad head magic)")
    if len(payload) < 5:
        raise ValueError("truncated ORC file")
    ps_len = payload[-1]
    if ps_len == 0 or len(payload) < 1 + ps_len:
        raise ValueError("bad ORC postscript length")
    ps = parse_proto(payload[-1 - ps_len : -1])
    footer_len = None
    compression = None
    magic = None
    for field, wt, v in ps:
        if field == 1 and wt == 0:
            footer_len = v
        elif field == 2 and wt == 0:
            compression = v
        elif field == 8000 and wt == 2:
            magic = v
    if magic != _ORC_MAGIC:
        raise ValueError("ORC postscript magic missing or wrong")
    if footer_len is None:
        raise ValueError("ORC postscript missing footer length")
    if compression not in (None, 0):
        raise ValueError(f"unsupported ORC compression codec {compression}")
    foot_end = len(payload) - 1 - ps_len
    # footer may not overlap the 3-byte "ORC" head magic (ADVICE r9:
    # footer_len == foot_end would previously pass despite the overlap)
    if footer_len > foot_end - 3:
        raise ValueError("ORC footer extends past start of file")
    footer = parse_proto(payload[foot_end - footer_len : foot_end])
    content_length = None
    n_rows = None
    stripes = []
    n_types = 0
    for field, wt, v in footer:
        if field == 2 and wt == 0:
            content_length = v
        elif field == 3 and wt == 2:
            info = {1: 0, 2: 0, 3: 0, 4: 0, 5: 0}
            for f2, wt2, v2 in parse_proto(v):
                if wt2 == 0 and f2 in info:
                    info[f2] = v2
            stripes.append(info)
        elif field == 4 and wt == 2:
            n_types += 1
        elif field == 6 and wt == 0:
            n_rows = v
    if content_length is None or n_rows is None or n_types == 0:
        raise ValueError("ORC footer missing required fields")
    if content_length > foot_end - footer_len:
        raise ValueError("ORC content length overlaps the footer")
    stripe_rows = 0
    for info in stripes:
        extent = info[1] + info[2] + info[3] + info[4]
        if info[1] < 3 or extent > content_length:
            raise ValueError("ORC stripe extent outside content region")
        stripe_rows += info[5]
    if stripe_rows != n_rows:
        raise ValueError(
            f"ORC row count mismatch: footer {n_rows}, stripes {stripe_rows}"
        )
    return {
        "n_stripes": len(stripes),
        "n_rows": n_rows,
        "n_types": n_types,
        "content_length": content_length,
        "data_length_sum": sum(i[3] for i in stripes),
    }


def _orc_payload(doc_id: int) -> bytes:
    s_count = 1 + doc_id % 4
    stripes = [
        (
            500 + (doc_id * 11 + s * 7) % 100,
            20 + (doc_id + s) % 10,
            200 + (doc_id * 3 + s * 17) % 80,
            10 + (doc_id + 2 * s) % 5,
        )
        for s in range(s_count)
    ]
    kinds = [(4, 7, 6)[(doc_id + i) % 3] for i in range(2 + doc_id % 3)]
    return encode_orc(stripes, kinds)


def _orc_stats(p: bytes) -> dict:
    m = decode_orc_footer(p)
    return {
        "n_stripes": m["n_stripes"],
        "n_rows": m["n_rows"],
        "n_types": m["n_types"],
        "data_len_sum": m["data_length_sum"],
    }


@query(
    "mm_decode_orc_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 4 AS s_count, 2 + doc_id % 3 AS cols
      FROM documents),
    st AS (
      SELECT doc_id,
             sum(500 + (doc_id * 11 + (t.i - 1) * 7) % 100) AS rows_sum,
             sum(200 + (doc_id * 3 + (t.i - 1) * 17) % 80) AS dlen_sum
      FROM d, unnest(generate_series(1, CAST(s_count AS INT))) AS t(i)
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(d.s_count AS BIGINT) AS n_stripes,
           CAST(st.rows_sum AS BIGINT) AS n_rows,
           CAST(1 + d.cols AS BIGINT) AS n_types,
           CAST(st.dlen_sum AS BIGINT) AS data_len_sum
    FROM d JOIN st ON st.doc_id = d.doc_id
    """,
)
def mm_decode_orc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC metadata census end-to-end: per document a spec-shaped ORC
    file (postscript + protobuf footer + stripe directory + flattened
    type tree) built in one Arrow stage and REALLY walked in the next
    — tail-first postscript parse, footer protobuf walk, stripe-extent
    and row-count cross-validation.  The oracle re-derives stripe,
    row, type, and data-length counts from the planting formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _orc_payload)
    return decode_payloads(
        mm,
        _orc_stats,
        "n_stripes long, n_rows long, n_types long, data_len_sum long",
    )


# ---------------------------------------------------------------------------
# Delta Lake: transaction-log replay (JVM-only)
# ---------------------------------------------------------------------------

_DELTA_ACTION_SCHEMA = (
    "struct<add: struct<path: string, size: bigint, rows: bigint, "
    "ver: bigint>, remove: struct<path: string, ver: bigint>>"
)


@query(
    "table_delta_log_replay",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    adds AS (
      SELECT d.doc_id, d.k, v.i - 1 AS v, j.i - 1 AS j,
             100 + (d.doc_id * 7 + (v.i - 1) * 13 + (j.i - 1) * 3) % 50
               AS rows_
      FROM d,
           unnest(generate_series(1, CAST(d.k AS INT))) AS v(i),
           unnest(generate_series(
             1, CAST(1 + (d.doc_id + v.i - 1) % 3 AS INT))) AS j(i)),
    tagged AS (
      SELECT doc_id, k, v, j, rows_,
             CASE WHEN j = 0 AND v < k - 1 THEN 1 ELSE 0 END AS removed
      FROM adds)
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_commits,
           CAST(count(*) + (k - 1) AS BIGINT) AS n_actions,
           CAST(count(*) - (k - 1) AS BIGINT) AS n_live_files,
           CAST(sum(CASE WHEN removed = 0 THEN rows_ ELSE 0 END)
                AS BIGINT) AS live_rows_sum,
           CAST(sum(CASE WHEN removed = 1 THEN rows_ ELSE 0 END)
                AS BIGINT) AS removed_rows_sum
    FROM tagged GROUP BY doc_id, k
    """,
)
def table_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style transaction-log replay, Python-free: per document a
    planted log of K commits — each commit v adds 1 + (doc+v) % 3
    files (JSON ``{"add": {...}}`` lines with path/size/rows/version)
    and, from commit 1 on, removes the first file of the previous
    commit (``{"remove": {...}}``).  The JSON lines are built AND
    parsed JVM-side (``to_json``-shaped concat in, ``from_json`` out),
    then folded latest-action-wins per (table, path): a file is live
    iff its newest action is an add.  The oracle re-derives commit,
    action, live-file, and row counts from the planting formulas.

    Scale shape (r14, guide §2.1): ONE shuffle total.  The log is
    generated in a single pass — each commit emits its adds and its
    remove through one array+explode instead of a union of two branches
    (which re-scanned the source and re-ran the commit explode) — and
    the explicit ``repartition(doc_id)`` up front satisfies BOTH
    downstream aggregations: hash(doc_id) clusters (doc_id, path) and
    doc_id alike (Spark's subset rule), so neither groupBy re-shuffles.
    Pre-r14: 2 scans + 4 exchanges; now 1 + 1 (1.42x at sf0.1) — the
    replay a cluster-side Delta planner runs over a multi-million-file
    table's checkpoint + tail."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(F.col("doc_id"))
    )
    k = (F.lit(2) + F.col("doc_id") % 4).cast("int")
    commits = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), k - 1)).alias("v")
    )
    jj = (F.lit(1) + (F.col("doc_id") + F.col("v")) % 3).cast("int")
    path = lambda v, j: F.concat(  # noqa: E731
        F.lit("part-"),
        F.col("doc_id").cast("string"),
        F.lit("-"),
        v.cast("string"),
        F.lit("-"),
        j.cast("string"),
    )
    j = F.col("e.jx")
    rows_of = (
        F.lit(100) + (F.col("doc_id") * 7 + F.col("v") * 13 + j * 3) % 50
    )
    add_line = F.concat(
        F.lit('{"add":{"path":"'),
        path(F.col("v"), j),
        F.lit('","size":'),
        (rows_of * 100).cast("string"),
        F.lit(',"rows":'),
        rows_of.cast("string"),
        F.lit(',"ver":'),
        F.col("v").cast("string"),
        F.lit("}}"),
    )
    rm_line = F.concat(
        F.lit('{"remove":{"path":"'),
        path(F.col("v") - 1, F.lit(0)),
        F.lit('","ver":'),
        F.col("v").cast("string"),
        F.lit("}}"),
    )
    # adds for j in 0..jj-1 plus (from commit 1 on) the remove, all in
    # one exploded array: isadd=0 marks the remove element
    lines = commits.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.lit(0), jj - 1),
                    lambda jx: F.struct(
                        jx.alias("jx"), F.lit(1).alias("isadd")
                    ),
                ),
                F.when(
                    F.col("v") >= 1,
                    F.array(
                        F.struct(F.lit(0).alias("jx"), F.lit(0).alias("isadd"))
                    ),
                ).otherwise(F.array().cast("array<struct<jx:int,isadd:int>>")),
            )
        ).alias("e"),
        "v",
    ).select(
        "doc_id",
        F.when(F.col("e.isadd") == 1, add_line).otherwise(rm_line).alias("line"),
    )
    actions = lines.withColumn(
        "a", F.from_json("line", _DELTA_ACTION_SCHEMA)
    ).select(
        "doc_id",
        F.coalesce(F.col("a.add.path"), F.col("a.remove.path")).alias("path"),
        F.col("a.add.ver").alias("add_ver"),
        F.col("a.add.rows").alias("rows"),
        F.col("a.remove.ver").alias("rm_ver"),
    )
    per_file = actions.groupBy("doc_id", "path").agg(
        F.max("add_ver").alias("last_add"),
        F.max("rm_ver").alias("last_rm"),
        F.max("rows").alias("rows"),
    )
    live = F.col("last_add").isNotNull() & (
        F.col("last_rm").isNull() | (F.col("last_rm") < F.col("last_add"))
    )
    return (
        per_file.withColumn("is_live", live)
        .groupBy("doc_id")
        .agg(
            (F.max("last_add") + 1).cast("long").alias("n_commits"),
            (
                F.count(F.lit(1))
                + F.count(F.when(F.col("last_rm").isNotNull(), 1))
            )
            .cast("long")
            .alias("n_actions"),
            F.count(F.when(live, 1)).cast("long").alias("n_live_files"),
            F.sum(F.when(live, F.col("rows")).otherwise(0))
            .cast("long")
            .alias("live_rows_sum"),
            F.sum(F.when(~live, F.col("rows")).otherwise(0))
            .cast("long")
            .alias("removed_rows_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Iceberg: manifest-list snapshot census
# ---------------------------------------------------------------------------

_ICEBERG_FIELDS = [
    ("manifest_path", "string"),
    ("snapshot_id", "long"),
    ("status", "int"),  # 0 existing, 1 added
    ("added_rows", "long"),
    ("deleted_rows", "long"),
]


def _iceberg_payload(doc_id: int) -> bytes:
    m_count = 2 + doc_id % 4
    base, latest = 100 + doc_id, 200 + doc_id
    records = [
        (
            f"m-{doc_id}-{m}.avro",
            latest if m == m_count - 1 else base,
            1 if m == m_count - 1 else 0,
            1000 + (doc_id * 13 + m * 7) % 500,
            (doc_id + m) % 20,
        )
        for m in range(m_count)
    ]
    return encode_avro_container(_ICEBERG_FIELDS, records)


def _iceberg_stats(p: bytes) -> dict:
    m = decode_avro_container(p)
    recs = m["records"]
    latest = max(r[1] for r in recs)
    return {
        "n_manifests": len(recs),
        "latest_snapshot": latest,
        "n_added_manifests": sum(1 for r in recs if r[2] == 1),
        "added_sum": sum(r[3] for r in recs),
        "deleted_sum": sum(r[4] for r in recs),
        "live_rows": sum(r[3] - r[4] for r in recs),
    }


@query(
    "table_iceberg_manifest_census",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS m FROM documents),
    mf AS (
      SELECT doc_id, m,
             1000 + (doc_id * 13 + (t.i - 1) * 7) % 500 AS added,
             (doc_id + t.i - 1) % 20 AS deleted,
             CASE WHEN t.i - 1 = m - 1 THEN 1 ELSE 0 END AS added_status
      FROM d, unnest(generate_series(1, CAST(m AS INT))) AS t(i))
    SELECT doc_id,
           CAST(m AS BIGINT) AS n_manifests,
           CAST(200 + doc_id AS BIGINT) AS latest_snapshot,
           CAST(sum(added_status) AS BIGINT) AS n_added_manifests,
           CAST(sum(added) AS BIGINT) AS added_sum,
           CAST(sum(deleted) AS BIGINT) AS deleted_sum,
           CAST(sum(added - deleted) AS BIGINT) AS live_rows
    FROM mf GROUP BY doc_id, m
    """,
)
def table_iceberg_manifest_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg-style snapshot planning: per document a manifest-list
    Avro container (the FIRST object-store read an Iceberg scan does)
    whose records carry per-manifest path, owning snapshot, status,
    and added/deleted row counts; the census sums what the latest
    snapshot would scan.  Decoded with the real Avro container walk;
    the oracle re-derives every sum from the planting formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _iceberg_payload)
    return decode_payloads(
        mm,
        _iceberg_stats,
        "n_manifests long, latest_snapshot long, n_added_manifests long, "
        "added_sum long, deleted_sum long, live_rows long",
    )


@query(
    "table_delta_time_travel",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    vers AS (
      SELECT doc_id, k, v.i - 1 AS v
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS v(i)),
    cum AS (
      SELECT doc_id, v,
             sum(1 + (doc_id + u.i - 1) % 3) AS files_added,
             sum((SELECT sum(100 + (doc_id * 7 + (u.i - 1) * 13
                                    + (j.i - 1) * 3) % 50)
                  FROM unnest(generate_series(
                    1, CAST(1 + (doc_id + u.i - 1) % 3 AS INT))) AS j(i)))
               AS rows_added
      FROM vers, unnest(generate_series(1, CAST(v + 1 AS INT))) AS u(i)
      GROUP BY doc_id, v),
    rem AS (
      SELECT doc_id, v,
             CASE WHEN v >= 1 THEN
               (SELECT sum(100 + (doc_id * 7 + (u.i - 1) * 13) % 50)
                FROM unnest(generate_series(1, CAST(v AS INT))) AS u(i))
             ELSE 0 END AS rows_removed
      FROM vers)
    SELECT cum.doc_id, CAST(cum.v AS BIGINT) AS version,
           CAST(cum.files_added - cum.v AS BIGINT) AS n_live_files,
           CAST(cum.rows_added - rem.rows_removed AS BIGINT) AS live_rows
    FROM cum JOIN rem ON rem.doc_id = cum.doc_id AND rem.v = cum.v
    """,
)
def table_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SAME planted transaction log as
    ``table_delta_log_replay``: the live-file census AS OF every
    version, computed the way a reader reconstructs history — parse
    the action lines (``from_json``, JVM-side), recover each remove's
    row count by joining it back to its add by path (remove actions
    don't carry sizes, exactly like Delta), aggregate per-version
    deltas, and roll them up with a cumulative window per table.  One
    output row per (table, version); the oracle re-derives every
    prefix sum from the planting formulas.

    Scale shape: the remove->add join and the per-version aggregate
    ride one (doc_id, path)-keyed shuffle; the cumulative window is
    per table over K rows (versions), not files."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    k = (F.lit(2) + F.col("doc_id") % 4).cast("int")
    commits = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), k - 1)).alias("v")
    )
    jj = (F.lit(1) + (F.col("doc_id") + F.col("v")) % 3).cast("int")
    path = lambda v, j: F.concat(  # noqa: E731
        F.lit("part-"),
        F.col("doc_id").cast("string"),
        F.lit("-"),
        v.cast("string"),
        F.lit("-"),
        j.cast("string"),
    )
    rows_of = (
        F.lit(100)
        + (F.col("doc_id") * 7 + F.col("v") * 13 + F.col("j") * 3) % 50
    )
    add_lines = commits.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), jj - 1)).alias("j"),
        "v",
    ).select(
        "doc_id",
        F.concat(
            F.lit('{"add":{"path":"'),
            path(F.col("v"), F.col("j")),
            F.lit('","size":'),
            (rows_of * 100).cast("string"),
            F.lit(',"rows":'),
            rows_of.cast("string"),
            F.lit(',"ver":'),
            F.col("v").cast("string"),
            F.lit("}}"),
        ).alias("line"),
    )
    rm_lines = commits.filter(F.col("v") >= 1).select(
        "doc_id",
        F.concat(
            F.lit('{"remove":{"path":"'),
            path(F.col("v") - 1, F.lit(0)),
            F.lit('","ver":'),
            F.col("v").cast("string"),
            F.lit("}}"),
        ).alias("line"),
    )
    acts = (
        add_lines.unionByName(rm_lines)
        .withColumn("a", F.from_json("line", _DELTA_ACTION_SCHEMA))
        .select(
            "doc_id",
            F.coalesce(F.col("a.add.path"), F.col("a.remove.path")).alias(
                "path"
            ),
            F.col("a.add.ver").alias("add_ver"),
            F.col("a.add.rows").alias("rows"),
            F.col("a.remove.ver").alias("rm_ver"),
        )
    )
    adds = acts.filter(F.col("add_ver").isNotNull()).select(
        "doc_id", "path", F.col("add_ver").alias("ver"), "rows"
    )
    # a remove carries no size: recover it from the add it retracts
    removes = (
        acts.filter(F.col("rm_ver").isNotNull())
        .select("doc_id", "path", F.col("rm_ver").alias("ver"))
        .join(adds.select("doc_id", "path", "rows"), ["doc_id", "path"])
    )
    add_delta = adds.groupBy("doc_id", "ver").agg(
        F.count(F.lit(1)).alias("df"), F.sum("rows").alias("dr")
    )
    rm_delta = removes.groupBy("doc_id", "ver").agg(
        (-F.count(F.lit(1))).alias("df"), (-F.sum("rows")).alias("dr")
    )
    deltas = add_delta.unionByName(rm_delta).groupBy("doc_id", "ver").agg(
        F.sum("df").alias("df"), F.sum("dr").alias("dr")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("ver")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return deltas.select(
        "doc_id",
        F.col("ver").cast("long").alias("version"),
        F.sum("df").over(w).cast("long").alias("n_live_files"),
        F.sum("dr").over(w).cast("long").alias("live_rows"),
    )
