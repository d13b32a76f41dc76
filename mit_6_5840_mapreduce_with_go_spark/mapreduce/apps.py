"""The eight reference query apps (src/mrapps/*.go) as Python Map/Reduce
pairs for the generic engine, PLUS DataFrame-native twins of the data apps
(wc, indexer, nocrash, early_exit) registered as oracle-checked queries
over the ``documents`` table.

Tokenizer parity: the reference splits on runs of non-letters via
``strings.FieldsFunc(contents, func(r) { return !unicode.IsLetter(r) })``
(src/mrapps/wc.go:19-24) — case-SENSITIVE, no lowercasing. The regex
equivalent is ``[^\\p{L}]+`` (Java) / ``[^\\pL]+`` (RE2/DuckDB).

The probe apps (mtiming, rtiming, jobcount, crash, early_exit timing) are
engine-property assertions, not data transforms; they live in
tests/test_mapreduce.py and tests/test_fault_tolerance.py as parallelism /
idempotence / retry tests (SURVEY.md §2.B3-B6).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from ..textcorpus import corpus_glob

LETTERS_SPLIT_RE = re.compile(r"[^\W\d_]+", re.UNICODE)  # runs of Unicode letters


def tokenize(contents: str) -> list[str]:
    """Runs of Unicode letters — parity with strings.FieldsFunc +
    unicode.IsLetter (src/mrapps/wc.go:21-24)."""
    return LETTERS_SPLIT_RE.findall(contents)


# --- wc (src/mrapps/wc.go) -------------------------------------------------
def wc_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [(w, "1") for w in tokenize(contents)]


def wc_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


def wc_combine(a: str, b: str) -> str:
    """Monoid form of wc's reduce (counts ride in the value) — the
    map-side-combine path the reference lacks (src/mrapps/wc.go:27-30)."""
    return str(int(a) + int(b))


# --- indexer (src/mrapps/indexer.go) ---------------------------------------
def indexer_map(filename: str, contents: str) -> list[tuple[str, str]]:
    # per-document dedup via set (indexer.go:22-27)
    return [(w, filename) for w in sorted(set(tokenize(contents)))]


def indexer_reduce(key: str, values: list[str]) -> str:
    values = sorted(values)  # indexer.go:37
    return f"{len(values)} {','.join(values)}"


# --- nocrash / crash golden twin (src/mrapps/nocrash.go:26-47) -------------
def nocrash_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [
        ("a", filename),
        ("b", str(len(filename))),
        ("c", str(len(contents))),
        ("d", "xyzzy"),
    ]


def nocrash_reduce(key: str, values: list[str]) -> str:
    return " ".join(sorted(values))


# --- early_exit (src/mrapps/early_exit.go:19-36, minus the sleep) ----------
def early_exit_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [(filename, "1")]


def early_exit_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


# --- jobcount / timing probes: map bodies only; the assertions they back
# (invocation counts, parallelism) are accumulator-based tests ---------------
def jobcount_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [("a", "x")]


def jobcount_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


def documents_as_files(spark: SparkSession, sf_dir: str, limit: int | None = None) -> list[tuple[str, str]]:
    """Adapt the documents table to the (filename, contents) input contract
    — each doc plays the role of one Gutenberg input file."""
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if limit:
        df = df.limit(limit)
    return [(f"doc-{r['doc_id']}", r["text"]) for r in df.collect()]


# ===========================================================================
# DataFrame-native twins, oracle-checked. These are the idiomatic Spark
# form: tokenization stays JVM-side (split + explode), counts are native
# partial+final aggregates — no Python in the hot path, unlike the generic
# engine above. This is the 100 TB path for the same queries.
# ===========================================================================
@query(
    "mr_wordcount",
    oracle=r"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '[^\pL]+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", r"[^\p{L}]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "mr_inverted_index",
    oracle=r"""
    SELECT word,
           count(*)                       AS n_docs,
           string_agg(doc, ',' ORDER BY doc) AS docs
    FROM (SELECT DISTINCT word, doc FROM (
            SELECT unnest(string_split_regex(text, '[^\pL]+')) AS word,
                   'doc-' || CAST(doc_id AS VARCHAR) AS doc
            FROM documents)
          WHERE word <> '')
    GROUP BY word
    """,
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc"),
            F.explode(F.split("text", r"[^\p{L}]+")).alias("word"),
        )
        .filter(F.col("word") != "")
        # ONE set aggregate serves both outputs (r13): count_distinct
        # alongside collect_set planned a multi-distinct Expand that
        # doubled every input row through the aggregation; n_docs is
        # just the size of the set we already collect (2-3x at sf0.1).
        .groupBy("word")
        .agg(F.array_sort(F.collect_set("doc")).alias("ds"))
        .select(
            "word",
            F.size("ds").cast("long").alias("n_docs"),
            F.array_join("ds", ",").alias("docs"),
        )
    )


@query(
    "mr_nocrash_stats",
    oracle="""
    WITH pairs AS (
      SELECT 'a' AS key, 'doc-' || CAST(doc_id AS VARCHAR) AS val FROM documents
      UNION ALL
      SELECT 'b', CAST(length('doc-' || CAST(doc_id AS VARCHAR)) AS VARCHAR) FROM documents
      UNION ALL
      SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
      UNION ALL
      SELECT 'd', 'xyzzy' FROM documents
    )
    SELECT key, string_agg(val, ' ' ORDER BY val) AS value
    FROM pairs GROUP BY key
    """,
)
def mr_nocrash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-synthesized-rows-per-file aggregate (nocrash.go:26-35): stack the
    # four (key, value) pairs, then gather+sort+space-join per key.
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("fname"),
        F.length("text").cast("string").alias("clen"),
    )
    pairs = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("key"), F.col("fname").alias("val")),
                F.struct(
                    F.lit("b").alias("key"), F.length("fname").cast("string").alias("val")
                ),
                F.struct(F.lit("c").alias("key"), F.col("clen").alias("val")),
                F.struct(F.lit("d").alias("key"), F.lit("xyzzy").alias("val")),
            )
        ).alias("p")
    ).select("p.key", "p.val")
    return pairs.groupBy("key").agg(
        F.array_join(F.array_sort(F.collect_list("val")), " ").alias("value")
    )


@query(
    "mr_doc_line_counts",
    oracle="""
    SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS file, 1 AS cnt FROM documents
    """,
)
def mr_doc_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # early_exit's data shape (early_exit.go:19-23): one count per input file.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("file"),
        F.lit(1).alias("cnt"),
    )


# Resolved at import, so every oracle SQL that names it reads files
# that exist, whichever engine runs first.
GUTENBERG_GLOB = corpus_glob()


@query(
    "mr_wordcount_gutenberg",
    oracle=rf"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split_regex(content, '[^\pL]+')) AS word
          FROM read_text('{GUTENBERG_GLOB}'))
    WHERE word <> ''
    GROUP BY word
    """,
)
def mr_wordcount_gutenberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over the reference's OWN test corpus — the exact 8
    Gutenberg books test-mr.sh feeds every MapReduce correctness run
    (reference: src/main/test-mr.sh:87-96; tokenizer src/mrapps/wc.go:19-24
    — split on non-letters). Input arrives through the wholetext Python
    data source (one input partition per book = the reference's map-task
    granularity); the oracle re-reads the same files via DuckDB
    ``read_text``, so the full unicode tokenizer behavior is
    driver-hash-checked on real mixed-case punctuated text, not only the
    synthetic corpus. Without the books it counts their generated
    stand-in (``textcorpus.corpus_glob``). ``sf_dir`` is unused — the
    corpus is fixed."""
    from ..sources.textfiles import read_whole_text_source

    books = read_whole_text_source(spark, GUTENBERG_GLOB)
    return (
        books.select(F.explode(F.split("content", r"[^\p{L}]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
