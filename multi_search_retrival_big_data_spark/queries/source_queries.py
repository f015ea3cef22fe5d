"""Oracle-checked source/sink round-trip queries (sources.py).

Each query writes the `documents` table through a non-parquet format
into a session-scoped temp directory, reads it back with an explicit
schema, and aggregates — the oracle computes the same aggregate over
the original table, so a pass proves the sink+source pair is lossless
(including newline- and quote-bearing text). The aggregate includes a
content checksum (sum over md5-prefix values of the text) so silent
corruption of ANY row fails the hash compare, not just row counts.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import sources, tables
from multi_search_retrival_big_data_spark.operators.dedup import shingle_int_value
from multi_search_retrival_big_data_spark.queries import query

DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

# sum of 32-bit md5-prefix values per lang — a deterministic content
# checksum both engines compute identically (dedup.shingle_int_value)
_SQL_V = " + ".join(
    f"(instr('0123456789abcdef', substring(md5(text), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
    for j in range(8)
)

_ROUNDTRIP_ORACLE = f"""
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({_SQL_V}) AS BIGINT) AS text_checksum
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(shingle_int_value(F.col("text"))).alias("text_checksum"),
        )
        .orderBy("lang")
    )


_TMP_ROOT: str | None = None


def _tmp(kind: str) -> str:
    """One session-scoped temp root, removed at interpreter exit —
    repeated runs overwrite the same per-kind path (all sinks write
    mode=overwrite) instead of leaking a corpus copy per execution."""
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="src_roundtrip_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return os.path.join(_TMP_ROOT, kind, "docs")


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL sink → schema-explicit JSONL source →
    checksummed per-lang aggregate. Proves the reference's .json
    interchange role (app.py:150-162) on a line-splittable,
    executor-parallel format."""
    docs = tables.load(spark, "documents", sf_dir)
    path = _tmp("jsonl")
    sources.write_jsonl(docs, path)
    return _roundtrip_agg(sources.read_jsonl(spark, path, DOCS_SCHEMA))


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → fully-quoted CSV sink → multiLine CSV source →
    checksummed per-lang aggregate. multiLine=True because quoted text
    may carry newlines (cost: per-file parallelism — see sources.py)."""
    docs = tables.load(spark, "documents", sf_dir)
    path = _tmp("csv")
    sources.write_csv(docs, path)
    return _roundtrip_agg(sources.read_csv(spark, path, DOCS_SCHEMA))


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC sink → schema-explicit ORC source → checksummed
    per-lang aggregate. Completes the columnar-interchange pair
    (parquet is the canonical store; ORC covers Hive/Trino handoff) —
    DuckDB cannot read ORC, so parity is proven the same way as the
    other round-trips: the oracle computes the identical checksummed
    aggregate over the original table."""
    docs = tables.load(spark, "documents", sf_dir)
    path = _tmp("orc")
    sources.write_orc(docs, path)
    return _roundtrip_agg(sources.read_orc(spark, path, DOCS_SCHEMA))


@query(
    "source_interchange_roundtrips",
    oracle=f"""
    SELECT f.format, t.lang, t.n_docs, t.sum_chars, t.text_checksum
    FROM ({_ROUNDTRIP_ORACLE}) t
    CROSS JOIN (VALUES ('csv'), ('jsonl'), ('orc')) f(format)
    ORDER BY format, lang
    """,
)
def source_interchange_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three non-parquet interchange round-trips (JSONL / quoted
    CSV / ORC) in one registered row, each labeled by format — the
    per-format write→read→checksummed-aggregate plans are unchanged
    (the helpers above), so a silent corruption in ANY format still
    fails the hash compare on its labeled rows. Consolidated from three
    registry rows (r7 verdict item 4); format-specific edge cases
    (quotes/newlines/unicode/null) stay covered by test_sources."""
    outs = []
    for fmt, fn in (
        ("csv", source_csv_roundtrip),
        ("jsonl", source_jsonl_roundtrip),
        ("orc", source_orc_roundtrip),
    ):
        outs.append(fn(spark, sf_dir).select(F.lit(fmt).alias("format"), "*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.orderBy("format", "lang")


@query("sink_compacted_parquet", oracle=_ROUNDTRIP_ORACLE)
def sink_compacted_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → deliberately fragmented parquet (64 shuffled
    writers → 64 small files, the streaming-append pathology) →
    compaction rewrite to 4 files (sources.compact_parquet) →
    checksummed per-lang aggregate. The checksum proves the
    maintenance job is byte-lossless; test_sources asserts the file
    counts actually collapse."""
    docs = tables.load(spark, "documents", sf_dir)
    frag = _tmp("frag")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = _tmp("compacted")
    sources.compact_parquet(spark, frag, compacted, 4)
    return _roundtrip_agg(sources.read_parquet(spark, compacted))


@query(
    "sink_partitioned_parquet_pruned",
    oracle=f"""
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({_SQL_V}) AS BIGINT) AS text_checksum
    FROM documents
    WHERE lang IN ('fr', 'zh')
    GROUP BY lang
    ORDER BY lang
    """,
)
def sink_partitioned_parquet_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → lang-partitioned parquet layout → read back
    filtering lang IN ('fr','zh'). The filter must become a
    PartitionFilter (directory pruning — asserted by
    tools/audit_plans.py), so the scan reads 2 of 5 partition dirs
    before any row IO: the at-rest layout for per-language corpus
    slices at 100 TB."""
    docs = tables.load(spark, "documents", sf_dir)
    path = _tmp("part")
    sources.write_partitioned_parquet(docs, path, ["lang"])
    back = sources.read_parquet(spark, path).filter(F.col("lang").isin("fr", "zh"))
    return _roundtrip_agg(back)


@query(
    "index_gc_retention",
    oracle="""
    SELECT * FROM (VALUES
      ('refreshed_generation_kept', 1),
      ('serving_generation_kept', 1),
      ('stale_generation_dropped', 1),
      ('stale_location_removed', 1)
    ) t(probe, ok) ORDER BY probe
    """,
)
def index_gc_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-store janitor retention proof (the production failure this
    guards is dropping a LIVE generation): a throwaway corpus is
    fitted (generation A), then REFRESHED in place — same path, bumped
    snapshot stats, so _corpus_fingerprint changes exactly like an
    Iceberg/Delta snapshot id — and fitted again (generation B).
    gc_stale_index_tables with the refreshed corpus + every testdata
    tier listed live must drop A (catalog AND warehouse location) while
    keeping B and the serving corpus' generation. Each probe is a
    hash-checked row, so a janitor that over- or under-collects fails
    the oracle gate, not just a unit test."""
    from multi_search_retrival_big_data_spark import index_store

    gcd = tempfile.mkdtemp(prefix="msrbd_gcq_")
    atexit.register(shutil.rmtree, gcd, ignore_errors=True)
    corpus = os.path.join(gcd, "documents.parquet")
    src = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, corpus)
    else:
        shutil.copy(src, corpus)

    index_store.tfidf_postings(spark, gcd)  # generation A
    stale_name = index_store._table_name("tfidf", gcd, "11", "documents")
    # simulated corpus refresh: bump the snapshot stats in place
    for root, _dirs, files in os.walk(corpus):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_001))
    if os.path.isfile(corpus):
        st = os.stat(corpus)
        os.utime(corpus, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_001))
    index_store.tfidf_postings(spark, gcd)  # generation B
    fresh_name = index_store._table_name("tfidf", gcd, "11", "documents")
    index_store.tfidf_postings(spark, sf_dir)  # serving generation
    serving_name = index_store._table_name("tfidf", sf_dir, "11", "documents")
    if stale_name == fresh_name:  # survives python -O (r10 hardening)
        raise AssertionError("refresh did not change the fingerprint")

    import glob as _glob

    live = sorted(set([sf_dir, gcd] + _glob.glob("/root/testdata/sf*")))
    dropped = index_store.gc_stale_index_tables(spark, live)

    wh = spark.conf.get("spark.sql.warehouse.dir")
    import urllib.parse as _up

    base = _up.unquote(_up.urlparse(wh).path) or wh
    probes = {
        "stale_generation_dropped": stale_name in dropped
        and not spark.catalog.tableExists(stale_name),
        "refreshed_generation_kept": fresh_name not in dropped
        and spark.catalog.tableExists(fresh_name),
        "serving_generation_kept": serving_name not in dropped
        and spark.catalog.tableExists(serving_name),
        "stale_location_removed": not os.path.exists(
            os.path.join(base, stale_name)
        ),
    }
    rows = sorted((k, int(v)) for k, v in probes.items())
    return tables.local_frame(spark, rows, "probe STRING, ok INT")
