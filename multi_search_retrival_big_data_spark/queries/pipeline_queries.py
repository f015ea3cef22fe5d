"""Oracle-checked training-data pipeline queries over `documents` —
deduplication (exact / MinHash-LSH / exact n-gram Jaccard), run
against the driver's synthetic corpus which contains planted
near-duplicate pairs (Jaccard ≈ 0.99).

Every hash both engines compute is md5 over identical UTF-8 bytes, and
minhash minima are taken over fixed-width lowercase hex strings (whose
lexicographic order equals their numeric order), so the Spark plan and
the DuckDB oracle agree value-for-value — see operators/dedup.py.

The oracle SQL is *generated* from the same constants
(SHINGLE_K/NUM_PERM/LSH_BANDS/LSH_ROWS) the Spark operators use, so
the two sides cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import dedup
from multi_search_retrival_big_data_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    NUM_PERM,
    SHINGLE_K,
)
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import det_round, sql_det_round

JACCARD_THRESHOLD = 0.8


def _shingles_cte(k: int = SHINGLE_K) -> str:
    """DuckDB CTE mirroring dedup.char_shingles (distinct lowercase
    char k-grams; range() end is exclusive → last start = len-k+1)."""
    return f"""
    shingles AS (
      SELECT DISTINCT doc_id, substring(lower(text), CAST(i AS INTEGER), {k}) AS shingle
      FROM documents, unnest(range(1, length(text) - {k - 2})) AS t(i)
      WHERE length(text) >= {k}
    )"""


def _jaccard_tail(threshold: float, pair_src: str) -> str:
    """Shared verify stage: exact Jaccard over `{pair_src}` (id_a, id_b)."""
    j = sql_det_round("i.i / CAST(sa.n + sb.n - i.i AS DOUBLE)")
    return f"""
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM {pair_src} c
      JOIN shingles x ON x.doc_id = c.id_a
      JOIN shingles y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b, {j} AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {threshold}
    ORDER BY jaccard DESC, id_a, id_b"""


def _minhash_cand_ctes(max_bucket: int | None = None) -> str:
    """CTE chain shingles → sig → buckets → cand, mirroring the Spark
    minhash/LSH candidate generation (shared by the pair query and the
    cluster-components query). With `max_bucket` the cand CTE mirrors
    the CAPPED path (dedup.lsh_candidate_pairs): all pairs for buckets
    ≤ B, id-sorted chain + star-to-min spanning pairs for mega buckets.

    DuckDB dialect hazards this CTE dodges (both bite ONLY under the
    `WITH RECURSIVE` prefix the components oracle needs): a CTE
    computing window functions must be MATERIALIZED or the inliner
    re-plans it per consumer with predicates pushed below the window,
    and a multi-branch `UNION` inside a non-recursive CTE loses its
    dedup — hence UNION ALL + one outer SELECT DISTINCT."""
    v = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(shingle), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    perms = ",\n        ".join(
        f"min(({a} * ({v}) + {b}) % {dedup.MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(dedup.minhash_params(NUM_PERM))
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS bucket FROM sig".format(
            b=b,
            cols=", ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )
    if max_bucket is None:
        cand = """
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )"""
    else:
        cand = f"""
    capped AS MATERIALIZED (
      SELECT doc_id, band, bucket,
             count(*) OVER (PARTITION BY band, bucket) AS m,
             min(doc_id) OVER (PARTITION BY band, bucket) AS mn,
             lag(doc_id) OVER (PARTITION BY band, bucket ORDER BY doc_id) AS prev
      FROM buckets
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE a.m <= {max_bucket}
        UNION ALL
        SELECT prev AS id_a, doc_id AS id_b FROM capped WHERE m > {max_bucket} AND prev IS NOT NULL
        UNION ALL
        SELECT mn AS id_a, doc_id AS id_b FROM capped WHERE m > {max_bucket} AND doc_id > mn
      )
    )"""
    return f"""{_shingles_cte()},
    sig AS (
      SELECT doc_id,
        {perms}
      FROM shingles GROUP BY doc_id
    ),
    buckets AS (
      {bands}
    ),{cand}"""


def _minhash_oracle(max_bucket: int | None = None) -> str:
    return f"""
    WITH {_minhash_cand_ctes(max_bucket)},
    {_jaccard_tail(JACCARD_THRESHOLD, "cand")}
    """


def _verified_pairs_cte(threshold: float) -> str:
    """Verify stage as a `pairs` CTE (id_a, id_b) instead of a final
    SELECT — feeds the recursive components closure."""
    return f"""
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN shingles x ON x.doc_id = c.id_a
      JOIN shingles y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {threshold}
    )"""


def _components_oracle(max_bucket: int | None = None) -> str:
    """Transitive closure of the verified near-dup pair graph via a
    recursive CTE (the single-machine spelling of the closure the Spark
    side computes by union-find or large-star/small-star)."""
    return f"""
    WITH RECURSIVE {_minhash_cand_ctes(max_bucket)},
    {_verified_pairs_cte(JACCARD_THRESHOLD)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    ORDER BY doc_id
    """


def _exact_jaccard_oracle() -> str:
    return f"""
    WITH {_shingles_cte()},
    cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM shingles x JOIN shingles y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    {_jaccard_tail(JACCARD_THRESHOLD, "cand")}
    """


@query(
    "dedup_exact_groups",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    SELECT doc_id, content_hash,
           min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
           count(*)   OVER (PARTITION BY content_hash) AS group_size
    FROM h
    ORDER BY doc_id
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every doc annotated with content hash, canonical id
    and duplicate-group size (group_size 1 = unique)."""
    docs = tables.load(spark, "documents", sf_dir)
    return dedup.exact_dedup(docs, "doc_id", "text").orderBy("doc_id")


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified at
    threshold 0.8. Finds the corpus's planted ~0.99-Jaccard pairs with
    no all-pairs comparison. Shingles and minhash signatures are read
    from the persisted build artifacts (index_store.doc_shingles /
    minhash_sigs) — a run is only bucket → candidate equi-join →
    candidate-bound verify; the explode and md5-per-shingle passes
    happen once at ingest."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    out = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
    )
    return (
        out.select("id_a", "id_b", det_round(F.col("jaccard")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
    )


@query("dedup_cluster_components", oracle=_components_oracle())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-LSH verified pair graph via connected_components_auto —
    a driver union-find while the verified graph fits the driver gate
    (what happens on this corpus), large-star/small-star above it.
    Output:
    (doc_id, cluster_id = min reachable id, cluster_size) for every
    document in a non-singleton cluster — the table a dedup job joins
    against to keep one representative per cluster. The oracle
    computes the same closure with a recursive CTE."""
    from pyspark.sql.window import Window

    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
    )
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(F.col("node").alias("doc_id"), "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


@query("dedup_cluster_components_lss", oracle=_components_oracle())
def dedup_cluster_components_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same duplicate-cluster table as dedup_cluster_components,
    computed by the alternating large-star/small-star algorithm
    (dedup.connected_components_lss) directly, whatever the graph size
    — the distributed route connected_components_auto takes above its
    driver gate (O(log² n) rounds on ANY graph, including chains).
    Sharing the recursive-CTE oracle with the auto query makes the
    union-find and LSS routes mutually parity-checked on the real
    near-dup graph."""
    from pyspark.sql.window import Window

    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
    )
    comp = dedup.connected_components_lss(pairs.select("id_a", "id_b"))
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(F.col("node").alias("doc_id"), "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# Cap that actually FIRES on the test corpora (max observed bucket is
# 4-5 members, so B=3 exercises the chain+star spanning path on both
# sf0.001 and sf0.01 — a cap above every bucket size would make the
# parity proofs below vacuous). Production crawls would set a few
# hundred; the semantics are identical.
LSH_MAX_BUCKET = 3


@query("dedup_minhash_lsh_capped", oracle=_minhash_oracle(LSH_MAX_BUCKET))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs through the CAPPED candidate
    path (dedup.lsh_candidate_pairs max_bucket=3): mega buckets emit a
    deterministic chain+star spanning pair set instead of all O(m²)
    pairs — the production guard against one viral boilerplate bucket
    emitting 10¹² candidates. The oracle spells the capped candidate
    generation independently (window count/min/lag per (band, bucket);
    the Spark side is the sorted-member-array miner), so this row
    proves the Spark capped path bit-for-bit."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    out = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
        max_bucket=LSH_MAX_BUCKET,
    )
    return (
        out.select("id_a", "id_b", det_round(F.col("jaccard")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
    )


@query("dedup_cluster_components_capped", oracle=_components_oracle())
def dedup_cluster_components_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters computed from the CAPPED candidate path,
    checked against the UNCAPPED recursive-closure oracle — i.e. this
    row passing shows the cap changes no cluster assignment on THIS
    corpus. It is not a general soundness proof: the closure only
    keeps a mega-bucket member whose chain or star pair passes the
    Jaccard verify (dedup.lsh_candidate_pairs states the condition),
    and corpora where a near-duplicate pair shares only a mega bucket
    with unrelated documents lose that pair's cluster (perfbench/gen.py
    curate_batch seeds 8, 11, 22, 24, 30, 32, 33 of 1-40)."""
    from pyspark.sql.window import Window

    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
        max_bucket=LSH_MAX_BUCKET,
    )
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(F.col("node").alias("doc_id"), "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


def _keep_canonical_oracle() -> str:
    """Components closure + canonical-winner election: within a
    cluster keep the member with the most characters (ties → smallest
    doc_id); unclustered documents keep themselves. The window CTE is
    MATERIALIZED (the WITH RECURSIVE inliner hazard, see
    _minhash_cand_ctes)."""
    return f"""
    WITH RECURSIVE {_minhash_cand_ctes()},
    {_verified_pairs_cte(JACCARD_THRESHOLD)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
    ranked AS MATERIALIZED (
      SELECT c.doc_id, c.cluster_id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id ASC
             ) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT d.doc_id,
           COALESCE(r.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(r.rn = 1, TRUE) AS keep
    FROM documents d LEFT JOIN ranked r USING (doc_id)
    ORDER BY d.doc_id
    """


@query("dedup_keep_canonical", oracle=_keep_canonical_oracle())
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's PRODUCT table: per-document keep/drop
    decisions (dedup.keep_canonical) over the MinHash-LSH verified
    duplicate clusters — each cluster keeps its highest-n_chars member
    (ties → smallest doc_id), every unclustered document survives.
    This is the table the corpus-filter stage semi-joins against; the
    oracle re-derives clusters via the recursive closure and elects
    winners with an explicit row_number window. Winner election runs
    on the membership table only (≪ corpus); the corpus pays one left
    equi-join on the unique id — no corpus-wide window, no skew.

    Runs the PRODUCTION config: CAPPED candidates (max_bucket — the
    viral-boilerplate guard) feeding the auto components router. The
    oracle is the UNCAPPED recursive closure, so this row passing shows
    the cap changes no cluster, hence no winner, on THIS corpus — not
    in general: a mega-bucket member whose chain and star pairs fail
    the Jaccard verify drops out of its cluster and keeps itself (the
    condition is in dedup.lsh_candidate_pairs; counterexamples as in
    dedup_cluster_components_capped)."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        JACCARD_THRESHOLD,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
        max_bucket=LSH_MAX_BUCKET,
    )
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    return dedup.keep_canonical(docs, comp, "doc_id", "n_chars").orderBy("doc_id")


@query(
    "dedup_lsh_bucket_stats",
    oracle=f"""
    WITH {_minhash_cand_ctes()},
    per AS (SELECT band, bucket, count(*) AS m FROM buckets GROUP BY band, bucket)
    SELECT band,
           count(*) AS n_buckets,
           CAST(SUM(CASE WHEN m > {LSH_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_mega_buckets,
           CAST(SUM(CASE WHEN m > {LSH_MAX_BUCKET} THEN m ELSE 0 END) AS BIGINT) AS mega_members,
           CAST(SUM(CAST(m * (m - 1) / 2 AS BIGINT)) AS BIGINT) AS full_pairs,
           CAST(SUM(CASE WHEN m <= {LSH_MAX_BUCKET} THEN CAST(m * (m - 1) / 2 AS BIGINT)
                         ELSE CAST(2 * (m - 1) - 1 AS BIGINT) END) AS BIGINT) AS capped_pairs
    FROM per GROUP BY band ORDER BY band
    """,
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped-pair accounting for the capped LSH path: per band, how
    many buckets exceed the cap, how many members they hold, and the
    all-pairs vs capped candidate budgets. The side output a production
    dedup job publishes so the cap is an explicit measured trade, not a
    silent truncation."""
    from multi_search_retrival_big_data_spark import index_store

    buckets = dedup.lsh_buckets(
        index_store.minhash_sigs(spark, sf_dir), "doc_id"
    )
    return dedup.lsh_bucket_stats(buckets, "doc_id", LSH_MAX_BUCKET)


@query("dedup_ngram_jaccard_exact", oracle=_exact_jaccard_oracle())
def dedup_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs char-5-gram Jaccard ≥ 0.8 — the ground truth the
    LSH path approximates (audit-path operator)."""
    docs = tables.load(spark, "documents", sf_dir)
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", JACCARD_THRESHOLD)
    return (
        out.select("id_a", "id_b", det_round(F.col("jaccard")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
    )


@query(
    "profile_docs_by_lang",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           quantile_cont(n_chars, 0.5) AS median_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def profile_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: per-language doc counts and EXACT length
    quantiles (Spark `percentile`, not approx_percentile — the
    approximate sketches differ between engines, exact interpolation
    does not). The profiling pass every dataset audit starts with."""
    docs = tables.load(spark, "documents", sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.percentile("n_chars", 0.5).alias("median_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "profile_rollup_lang_source",
    oracle="""
    SELECT lang, source, count(*) AS n
    FROM documents
    GROUP BY ROLLUP (lang, source)
    ORDER BY lang NULLS FIRST, source NULLS FIRST
    """,
)
def profile_rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup: (lang, source) counts with subtotal and grand-total
    rows — hierarchical aggregation the reference never had, standard
    for corpus dashboards."""
    docs = tables.load(spark, "documents", sf_dir)
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )


_LANGS = ("de", "en", "es", "fr", "zh")


@query(
    "profile_pivot_source_lang",
    oracle=f"""
    SELECT source,
           {", ".join(f"CAST(SUM(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS BIGINT) AS {l}" for l in _LANGS)}
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def profile_pivot_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: language distribution per source as a wide table. The
    pivot value list is fixed (deterministic schema — a discovered
    pivot would need an extra pass and a nondeterministic column
    order); each cell compiles to a conditional count, which is what
    the oracle spells out."""
    docs = tables.load(spark, "documents", sf_dir)
    out = (
        docs.groupBy("source")
        .pivot("lang", list(_LANGS))
        .agg(F.count(F.lit(1)))
        .orderBy("source")
    )
    # pivot leaves NULL where a (source, lang) cell has no rows; the
    # oracle's conditional SUM yields 0 — align
    return out.select(
        "source", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _LANGS]
    )


@query(
    "skew_salted_join_lang",
    oracle="""
    WITH stats AS (
      SELECT lang, count(*) AS lang_docs,
             CAST(SUM(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
      FROM documents GROUP BY lang
    )
    SELECT d.lang, s.lang_docs,
           CAST(SUM(CASE WHEN d.n_chars > s.avg_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
           CAST(SUM(CASE WHEN d.n_chars > s.avg_chars THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(s.lang_docs AS DOUBLE) AS long_frac
    FROM documents d JOIN stats s USING (lang)
    GROUP BY d.lang, s.lang_docs
    ORDER BY d.lang
    """,
)
def skew_salted_join_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join demonstration on the corpus's naturally
    skewed key: `lang` (en holds ~44% of documents, so a plain
    shuffle join puts ~half the fact table on one reducer). The join
    runs through `partitioning.salted_join` — the left side gets a
    deterministic 16-way shard, the per-lang stats dim is replicated
    across shards — and the result is provably identical to the plain
    join (this oracle). At 100 TB this is the 'default tenant / null
    key' mitigation when a single key exceeds one task's memory and
    AQE's skew split cannot help (it splits partitions, not keys
    within a hash bucket).

    avg_chars is an int-sum / int-count double division — bit-exact in
    both engines, and the int/int long_frac division likewise, so no
    quantization is needed anywhere."""
    from multi_search_retrival_big_data_spark.partitioning import salted_join

    docs = tables.load(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("lang_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_chars"
        ),
    )
    joined = salted_join(docs, stats, ["lang"], salt=16)
    return (
        joined.groupBy("lang", "lang_docs")
        .agg(
            F.sum(F.when(F.col("n_chars") > F.col("avg_chars"), 1).otherwise(0)).alias(
                "n_long"
            ),
        )
        .select(
            "lang",
            "lang_docs",
            "n_long",
            (F.col("n_long").cast("double") / F.col("lang_docs").cast("double")).alias(
                "long_frac"
            ),
        )
        .orderBy("lang")
    )


DELTA_MOD = 7


def _delta_pairs_oracle() -> str:
    """Full LSH candidate set restricted to pairs touching the delta
    batch (doc_id % DELTA_MOD = 0) — by construction identical to the
    delta-probe join (same buckets ⇒ same collisions), which is the
    equivalence the query proves."""
    return f"""
    WITH {_minhash_cand_ctes()},
    cand_delta AS (
      SELECT id_a, id_b FROM cand
      WHERE id_a % {DELTA_MOD} = 0 OR id_b % {DELTA_MOD} = 0
    ),
    {_jaccard_tail(JACCARD_THRESHOLD, "cand_delta")}
    """


@query("dedup_delta_batch_pairs", oracle=_delta_pairs_oracle())
def dedup_delta_batch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup check of a fresh batch against the corpus:
    the batch's bucket rows (here: every DELTA_MOD-th doc standing in
    for a new crawl) probe the PERSISTED bucket table, candidates are
    exact-Jaccard verified, and the result provably equals the full
    corpus self-join restricted to pairs touching the batch (the
    oracle computes that restriction). At 100 TB this replaces a
    corpus-wide dedup re-run with an O(|batch|)-probe per ingest
    cycle; composes with the capped path for adversarial buckets."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    delta_ids = docs.filter(F.col("doc_id") % DELTA_MOD == 0).select("doc_id")
    sh = index_store.doc_shingles(spark, sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    buckets = dedup.lsh_buckets(sig, "doc_id", LSH_BANDS, LSH_ROWS)
    cand = dedup.lsh_delta_candidate_pairs(buckets, delta_ids, "doc_id").cache()
    verified = dedup.jaccard_for_pairs(
        sh, cand, "doc_id", min_jaccard=JACCARD_THRESHOLD
    )
    return (
        verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", det_round(F.col("jaccard")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
    )


def _bucketed_join_oracle() -> str:
    a0, b0 = dedup.minhash_params(1)[0]
    v = " + ".join(
        f"(instr('0123456789abcdef', substring(md5(shingle), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"""
    WITH {_shingles_cte()},
    sizes AS (
      SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, min(({a0} * ({v}) + {b0}) % {dedup.MINHASH_PRIME}) AS h0
      FROM shingles GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_shingles, g.h0
    FROM sizes s JOIN sig g USING (doc_id)
    ORDER BY s.doc_id
    LIMIT 80
    """


@query("bucketed_join_zero_shuffle", oracle=_bucketed_join_oracle())
def bucketed_join_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: per-doc shingle counts joined to the
    minhash signature table, where BOTH inputs are the persisted index
    tables bucketed+sorted by doc_id into the same bucket count
    (index_store.doc_shingles / minhash_sigs). The bucketed layout IS
    the shuffle, paid once at ingest: the groupBy(doc_id) aggregation
    reuses the scan's hash-partitioning and the join matches bucket
    files pairwise, so the whole plan contains NO Exchange of any kind
    (asserted by tools/audit_plans.py NO_EXCHANGE_EXPECTED; the final
    top-n is a TakeOrderedAndProject, not a range exchange). At 100 TB
    this is the difference between re-shuffling the corpus per dedup
    run and reading pre-clustered buckets. The merge hint pins the
    co-located sort-merge join — a broadcast would also be
    shuffle-free but would not demonstrate the bucket alignment."""
    from multi_search_retrival_big_data_spark import index_store

    sh = index_store.doc_shingles(spark, sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        sizes.hint("merge")
        .join(sig.select("doc_id", "h0"), "doc_id")
        .orderBy("doc_id")
        .limit(80)
    )


def _lsh_recall_oracle(max_bucket: int | None = None) -> str:
    """True pair set = exact all-pairs n-gram Jaccard ≥ threshold;
    found = the LSH-candidate-bound verified pairs. LSH verify can
    only LOSE pairs (its candidates are a subset of all pairs and the
    verify stage is the same exact Jaccard), so precision is 1 by
    construction and recall is the one number that governs the
    banding parameters (and, with `max_bucket`, prices the cap)."""
    return f"""
    WITH {_minhash_cand_ctes(max_bucket)},
    truth AS MATERIALIZED (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM shingles x JOIN shingles y
        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    tv AS MATERIALIZED (
      SELECT i.id_a, i.id_b
      FROM (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM truth c
        JOIN shingles x ON x.doc_id = c.id_a
        JOIN shingles y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        GROUP BY c.id_a, c.id_b
      ) i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {JACCARD_THRESHOLD}
    ),
    found AS (
      SELECT t.id_a, t.id_b FROM tv t
      JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT (SELECT count(*) FROM tv) AS n_true,
           (SELECT count(*) FROM found) AS n_found,
           CASE WHEN (SELECT count(*) FROM tv) = 0 THEN 1.0
                ELSE (SELECT count(*) FROM found)
                     / CAST((SELECT count(*) FROM tv) AS DOUBLE)
           END AS recall
    """


@query("dedup_lsh_recall_audit", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall governance for the MinHash-LSH dedup path — the same
    audit role the recall grids play for the ANN family: ONE row
    (n_true, n_found, recall) comparing the LSH-candidate-bound
    verified pairs against the exact all-pairs ground truth
    (dedup.ngram_jaccard_pairs) at the same threshold. Precision is 1
    by construction (candidates ⊆ all pairs, identical verify), so
    recall alone prices the banding parameters; run on a corpus
    SAMPLE at 100 TB — the ground-truth branch is the quadratic one,
    exactly like sketch_kmv's exact branch."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    sh = index_store.doc_shingles(spark, sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    found_pairs = dedup.minhash_near_duplicates(
        docs, "doc_id", "text", JACCARD_THRESHOLD,
        shingles=sh, signatures=sig,
    ).select("id_a", "id_b")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = (
        truth.join(found_pairs, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        n_true.crossJoin(F.broadcast(n_found))  # 1-row × 1-row scalar combine
        .select(
            "n_true",
            "n_found",
            F.when(F.col("n_true") == 0, F.lit(1.0))
            .otherwise(F.col("n_found").cast("double") / F.col("n_true").cast("double"))
            .alias("recall"),
        )
    )


PR_ITERS = 5
PR_DAMPING = 0.85


def _pagerank_oracle() -> str:
    """Unrolled power-iteration CTEs (fixed PR_ITERS rounds) over the
    symmetric source-level near-dup graph, mirroring graph.pagerank —
    quantized contribution sums make every round's ranks exact, so the
    unrolled SQL and the Spark loop cannot drift."""
    from multi_search_retrival_big_data_spark.operators.graph import (
        PAGERANK_SUM_SCALE,
    )

    parts = [
        f"""pedges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT da.source AS src, db.source AS dst
        FROM cand c
        JOIN documents da ON da.doc_id = c.id_a
        JOIN documents db ON db.doc_id = c.id_b
        WHERE da.source <> db.source
        UNION ALL
        SELECT db.source AS src, da.source AS dst
        FROM cand c
        JOIN documents da ON da.doc_id = c.id_a
        JOIN documents db ON db.doc_id = c.id_b
        WHERE da.source <> db.source
      )
    )""",
        "o AS MATERIALIZED (SELECT src, count(*) AS deg FROM pedges GROUP BY src)",
        """nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM pedges
        UNION ALL SELECT dst AS node FROM pedges)
    )""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for t in range(PR_ITERS):
        parts.append(
            f"""c{t} AS (
      SELECT e.dst AS node,
             {_pr_dsum(PAGERANK_SUM_SCALE)} AS c
      FROM pedges e
      JOIN r{t} r ON r.node = e.src
      JOIN o ON o.src = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""r{t + 1} AS (
      SELECT n.node,
             (1.0 - {PR_DAMPING}) / nn.n + {PR_DAMPING} * COALESCE(c.c, 0.0) AS rank
      FROM nodes n CROSS JOIN nn LEFT JOIN c{t} c ON c.node = n.node
    )"""
        )
    from multi_search_retrival_big_data_spark.queries.common import sql_det_round as _r

    joined = ",\n    ".join(parts)
    return f"""
    WITH {_minhash_cand_ctes()},
    {joined}
    SELECT node AS source, {_r("rank", 9)} AS rank
    FROM r{PR_ITERS}
    ORDER BY rank DESC, source
    """


def _pr_dsum(scale: int) -> str:
    from multi_search_retrival_big_data_spark.queries.common import sql_dsum

    return sql_dsum("r.rank / o.deg", scale)


@query("graph_source_pagerank", oracle=_pagerank_oracle())
def graph_source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the source-level near-duplicate graph (sources
    sharing LSH candidate pairs link to each other) — the host-level
    link-analysis prior crawl pipelines weight corpus quality by, and
    the canonical iterative Spark dataflow next to k-means and
    connected components. Fixed {PR_ITERS}-round power iteration
    (graph.pagerank): per round, one edge⋈rank equi-join + one
    map-side-combined contribution sum; no convergence action. The
    oracle unrolls the same rounds as CTEs — quantized contribution
    sums keep every round's ranks bit-identical across engines."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import graph

    docs = tables.load(spark, "documents", sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_buckets(sig, "doc_id"), "doc_id"
    )
    src_of = docs.select("doc_id", "source")
    pairs = (
        cand.join(src_of.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src_of.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    edges = (
        pairs.select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .union(pairs.select(F.col("sb").alias("src"), F.col("sa").alias("dst")))
        .distinct()
    )
    ranks = graph.pagerank(edges, iters=PR_ITERS, damping=PR_DAMPING)
    return (
        ranks.select(
            F.col("node").alias("source"), det_round(F.col("rank"), 9).alias("rank")
        )
        .orderBy(F.desc("rank"), F.asc("source"))
    )


def _pagerank_redistributed_oracle() -> str:
    """Unrolled power-iteration CTEs with per-round dangling-mass
    redistribution over a DIRECTED low→high source graph (so dangling
    nodes genuinely exist: any source that is never the lexicographic
    minimum of a pair has no out-edges). Mirrors
    graph.pagerank(redistribute_dangling=True): the dangling sum is
    quantized-exact per round, so both engines' ranks stay
    bit-identical."""
    from multi_search_retrival_big_data_spark.operators.graph import (
        PAGERANK_SUM_SCALE,
    )
    from multi_search_retrival_big_data_spark.queries.common import (
        sql_det_round as _r,
    )
    from multi_search_retrival_big_data_spark.queries.common import sql_dsum

    parts = [
        """pedges AS MATERIALIZED (
      SELECT DISTINCT least(da.source, db.source) AS src,
             greatest(da.source, db.source) AS dst
      FROM cand c
      JOIN documents da ON da.doc_id = c.id_a
      JOIN documents db ON db.doc_id = c.id_b
      WHERE da.source <> db.source
    )""",
        "o AS MATERIALIZED (SELECT src, count(*) AS deg FROM pedges GROUP BY src)",
        """nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM pedges
        UNION ALL SELECT dst AS node FROM pedges)
    )""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for t in range(PR_ITERS):
        parts.append(
            f"""c{t} AS (
      SELECT e.dst AS node,
             {_pr_dsum(PAGERANK_SUM_SCALE)} AS c
      FROM pedges e
      JOIN r{t} r ON r.node = e.src
      JOIN o ON o.src = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""d{t} AS (
      SELECT {sql_dsum("r.rank", PAGERANK_SUM_SCALE)} AS dm
      FROM r{t} r
      WHERE r.node NOT IN (SELECT src FROM pedges)
    )"""
        )
        parts.append(
            f"""r{t + 1} AS (
      SELECT n.node,
             (1.0 - {PR_DAMPING}) / nn.n
               + {PR_DAMPING} * (COALESCE(c.c, 0.0) + COALESCE(d.dm, 0.0) / nn.n) AS rank
      FROM nodes n CROSS JOIN nn CROSS JOIN d{t} d
      LEFT JOIN c{t} c ON c.node = n.node
    )"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {_minhash_cand_ctes()},
    {joined}
    SELECT node AS source, {_r(f"r{PR_ITERS}.rank", 9)} AS rank
    FROM r{PR_ITERS}
    ORDER BY rank DESC, source
    """


@query(
    "graph_source_pagerank_redistributed",
    oracle=_pagerank_redistributed_oracle(),
)
def graph_source_pagerank_redistributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with per-round dangling-mass redistribution — the
    production host-rank form (total rank mass conserved at 1.0 every
    round), next to graph_source_pagerank's documented simple/leaky
    variant. The graph is DIRECTED low→high here so dangling sources
    exist by construction; per round the extra cost over the simple
    variant is one 1-row quantized aggregate over the dangling slice
    of the rank table, broadcast back as a scalar."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import graph

    docs = tables.load(spark, "documents", sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_buckets(sig, "doc_id"), "doc_id"
    )
    src_of = docs.select("doc_id", "source")
    pairs = (
        cand.join(src_of.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src_of.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    edges = pairs.select(
        F.least("sa", "sb").alias("src"), F.greatest("sa", "sb").alias("dst")
    ).distinct()
    ranks = graph.pagerank(
        edges, iters=PR_ITERS, damping=PR_DAMPING, redistribute_dangling=True
    )
    return (
        ranks.select(
            F.col("node").alias("source"), det_round(F.col("rank"), 9).alias("rank")
        )
        .orderBy(F.desc("rank"), F.asc("source"))
    )


@query(
    "join_runtime_bloom_filter",
    oracle="""
    SELECT l.l_linestatus, count(*) AS n_items,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pruning on a shuffle join: the selective
    dim-side predicate (urgent orders) is turned by Catalyst into a
    bloom_filter_agg whose filter is INJECTED into the fact-side scan,
    so most non-matching lineitem rows die before the join shuffle —
    Spark's runtime-filter answer to the reference's IDSelectorArray
    pre-filter (faiss_processing.py:154-166) for the case where the
    allowed set is itself a query result. Runs in an ISOLATED
    newSession: the injection thresholds are tuned down because the
    driver corpus is far below the 10 GB default application-side
    threshold where production clusters get this for free, and
    broadcast is disabled so a shuffle join exists to prune — leaking
    either conf into the shared session would distort every other
    query's plan. tools/audit_plans.py asserts bloom_filter_agg is in
    the executed plan."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    li = tables.load(s2, "lineitem", sf_dir)
    orders = tables.load(s2, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_distinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "ids_dense_enumeration_scalable",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS global_id,
           doc_id
    FROM documents
    ORDER BY global_id
    """,
)
def ids_dense_enumeration_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 dense-id enumeration via the SCALE-SAFE path
    (temporal.dense_global_ids): range-partition on the order
    key, per-partition row_number, prefix-sum offsets — no
    un-partitioned window anywhere in the executed plan. The oracle is
    the global enumeration itself (reference `dict(enumerate(...))`,
    data_preparation.ipynb cells 5-6), so this query IS the bit-parity
    proof between the distributed id assignment and the single-task
    one."""
    from multi_search_retrival_big_data_spark.operators import temporal

    docs = tables.load(spark, "documents", sf_dir).select("source", "doc_id")
    out = temporal.dense_global_ids(
        docs, ["source", "doc_id"], id_col="global_id"
    )
    return out.select("global_id", "doc_id").orderBy("global_id")


@query(
    "dedup_lsh_capped_recall_audit",
    oracle=_lsh_recall_oracle(LSH_MAX_BUCKET),
)
def dedup_lsh_capped_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIR-level recall of the CAPPED candidate path against the
    exact ground truth — the honest price tag of the mega-bucket cap:
    spanning pair sets intentionally drop within-mega-bucket pairs, so
    pair recall can dip below the uncapped path's (dedup_lsh_recall_
    audit). The capped clusters match the uncapped ones on the
    committed testdata (dedup_cluster_components_capped), but not on
    every corpus: on perfbench curate_batch seeds 8, 11, 22, 24, 30,
    32 and 33 they differ, because a chain+star pair can run through a
    member that fails the Jaccard verify. Read the two audits
    together: pairs are the budget, clusters are the product."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    sh = index_store.doc_shingles(spark, sf_dir)
    sig = index_store.minhash_sigs(spark, sf_dir)
    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    found_pairs = dedup.minhash_near_duplicates(
        docs, "doc_id", "text", JACCARD_THRESHOLD,
        shingles=sh, signatures=sig, max_bucket=LSH_MAX_BUCKET,
    ).select("id_a", "id_b")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = (
        truth.join(found_pairs, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        n_true.crossJoin(F.broadcast(n_found))  # 1-row × 1-row scalar combine
        .select(
            "n_true",
            "n_found",
            F.when(F.col("n_true") == 0, F.lit(1.0))
            .otherwise(F.col("n_found").cast("double") / F.col("n_true").cast("double"))
            .alias("recall"),
        )
    )


# --- MinHash decontamination (eval split probes the corpus index) ----------

from multi_search_retrival_big_data_spark.queries.sampling_queries import (  # noqa: E402
    SAMPLE_THRESHOLD_HEX as _EVAL_THR,
)


def _minhash_decon_oracle() -> str:
    """Full-banding candidate set restricted to pairs that CROSS the
    md5 eval/corpus split (same split as decontamination_eval_overlap),
    exact-Jaccard verified — by the same-buckets⇒same-collisions
    argument as _delta_pairs_oracle, identical to the Spark side's
    probe of the persisted bucket table."""
    j = sql_det_round("i.i / CAST(sa.n + sb.n - i.i AS DOUBLE)")
    ev = "md5(CAST({id} AS VARCHAR)) < '{thr}'"
    ev_a = ev.format(id="i.id_a", thr=_EVAL_THR)
    return f"""
    WITH {_minhash_cand_ctes()},
    cand_x AS (
      SELECT id_a, id_b FROM cand
      WHERE ({ev.format(id="id_a", thr=_EVAL_THR)})
         <> ({ev.format(id="id_b", thr=_EVAL_THR)})
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand_x c
      JOIN shingles x ON x.doc_id = c.id_a
      JOIN shingles y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT CASE WHEN {ev_a} THEN i.id_b ELSE i.id_a END AS corpus_id,
           CASE WHEN {ev_a} THEN i.id_a ELSE i.id_b END AS eval_id,
           {j} AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY jaccard DESC, corpus_id, eval_id
    """


@query("decontamination_minhash_overlap", oracle=_minhash_decon_oracle())
def decontamination_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at MinHash scale: the eval split (the
    same md5(doc_id) < threshold ~10% slice decontamination_eval_overlap
    uses) PROBES the persisted corpus bucket table
    (dedup.lsh_delta_candidate_pairs — the eval set plays the delta),
    candidate pairs are kept only when they CROSS the split, and
    survivors are exact-Jaccard verified. Where the exact n-gram
    overlap join scans every gram of both sides, this path costs
    O(|eval| × bucket collision rate) probes against the index the
    dedup pipeline already maintains — the shape that lets a 100 TB
    corpus be re-screened against every new benchmark release without
    a corpus-wide pass. Output: (corpus_id, eval_id, jaccard) — the
    training docs to quarantine."""
    from multi_search_retrival_big_data_spark import index_store

    docs = tables.load(spark, "documents", sf_dir)
    is_eval = lambda c: F.md5(F.col(c).cast("string")) < F.lit(_EVAL_THR)  # noqa: E731
    eval_ids = docs.filter(is_eval("doc_id")).select("doc_id")
    buckets = dedup.lsh_buckets(index_store.minhash_sigs(spark, sf_dir), "doc_id")
    cand = dedup.lsh_delta_candidate_pairs(buckets, eval_ids, "doc_id").filter(
        is_eval("id_a") != is_eval("id_b")
    )
    verified = dedup.jaccard_for_pairs(
        index_store.doc_shingles(spark, sf_dir), cand, "doc_id",
        min_jaccard=JACCARD_THRESHOLD,
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    a_is_eval = F.md5(F.col("id_a").cast("string")) < F.lit(_EVAL_THR)
    return verified.select(
        F.when(a_is_eval, F.col("id_b")).otherwise(F.col("id_a")).alias("corpus_id"),
        F.when(a_is_eval, F.col("id_a")).otherwise(F.col("id_b")).alias("eval_id"),
        det_round(F.col("jaccard")).alias("jaccard"),
    ).orderBy(F.desc("jaccard"), "corpus_id", "eval_id")


# ---- SemDeDup: embedding-space semantic dedup (Abbas et al. 2023) ----------
#
# The oracle re-derives the SAME Lloyd-trained k-means cells from the
# raw corpus (kmeans_sql — engine-portable training, proven by the
# ann_*_trained rows), mines within-cell cosine pairs, closes them with
# the recursive-CTE closure shared with the MinHash cluster oracles,
# and elects keepers by lowest centroid-similarity. Spark reads the
# persisted trained assignment (index_store.ivf_trained).

from multi_search_retrival_big_data_spark.operators import ann  # noqa: E402
from multi_search_retrival_big_data_spark.queries.common import EMB_DIM  # noqa: E402
from multi_search_retrival_big_data_spark.queries.kmeans_sql import (  # noqa: E402
    KEM_CTE,
    ivf_lloyd_ctes,
)

SEMANTIC_DUP_THRESHOLD = 0.45  # same planted-near-dup threshold as emb_near_dup_*
_SEM_ITERS = 2  # matches the persisted index_store.ivf_trained build
# Production viral-cell cap for the SemDeDup PRODUCT table: ~4× the
# stride-62 design cell size, so every healthy cell takes the cheap
# all-pairs path (≤ 256²/2 ≈ 33k pairs — bounded per cell) and ONLY a
# genuinely viral cell (near-identical embeddings collapsing into one
# Voronoi region — the keyframe-burst shape) pays the SRP sub-bucket
# guard. A smaller cap would route healthy cells through banding,
# which barely prunes angularly-similar within-cell vectors but adds
# the full signature+band-join+distinct machinery on top (measured:
# cap=8 cost 4.4× the uncapped path at sf0.1 while cutting recall).
SEM_MAX_CELL_PRODUCTION = 256
_SEM_CTES, _SEM_FINAL = ivf_lloyd_ctes(ann.IVF_CENTROID_STRIDE, EMB_DIM, _SEM_ITERS)


def _sem_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


_SEM_MODEL_CTES = f"""{_SEM_CTES},
    tcent AS MATERIALIZED (SELECT cid, cv FROM {_SEM_FINAL}),
    tassign AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv) ASC, c.cid ASC
               ) AS rn
        FROM kem e CROSS JOIN tcent c
      ) WHERE rn = 1
    )"""

_SEM_PAIRS_CTE = f"""spairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM tassign a
      JOIN tassign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN kem ea ON ea.vec_id = a.vec_id
      JOIN kem eb ON eb.vec_id = b.vec_id
      WHERE {sql_det_round(_sem_cos('ea.v', 'eb.v'))} >= {SEMANTIC_DUP_THRESHOLD}
    )"""


@query(
    "dedup_semantic_keep",
    oracle=f"""
    WITH RECURSIVE {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_PAIRS_CTE},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM spairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM spairs
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT n AS vec_id, min(m) AS cluster_id FROM reach GROUP BY n),
    csim AS MATERIALIZED (
      SELECT a.vec_id, {sql_det_round(_sem_cos('e.v', 'c.cv'))} AS sim
      FROM tassign a JOIN kem e USING (vec_id) JOIN tcent c USING (cid)
    ),
    ranked AS MATERIALIZED (
      SELECT m.vec_id, m.cluster_id,
             row_number() OVER (
               PARTITION BY m.cluster_id ORDER BY s.sim ASC, m.vec_id ASC
             ) AS rn
      FROM comp m JOIN csim s USING (vec_id)
    )
    SELECT e.vec_id,
           COALESCE(r.cluster_id, e.vec_id) AS cluster_id,
           COALESCE(r.rn = 1, TRUE) AS keep
    FROM embeddings e LEFT JOIN ranked r ON r.vec_id = e.vec_id
    ORDER BY e.vec_id
    """,
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) PRODUCT table over the embedding
    corpus, PRODUCTION config: within-cell cosine pairs mined with the
    viral-cell guard ARMED (max_cell=SEM_MAX_CELL_PRODUCTION — cells
    beyond ~4× the design size are SRP sub-bucketed instead of going
    quadratic) → connected components → keep the member with the
    LOWEST centroid similarity per duplicate group
    (edge-of-distribution survivor), every unclustered vector kept.

    Cap-soundness at the gate: every sf0.01 cell is far below the
    production cap, so the capped plan provably equals the uncapped
    closure — which is exactly what the oracle computes (the
    dedup_keep_canonical r5 pattern: production config vs uncapped
    recursive oracle). Where the guard actually FIRES it is proven
    bit-for-bit by dedup_semantic_keep_guarded (tiny cap, capped-
    mirror oracle) and measured by bench.py's skew tier, whose
    planted viral embedding cell (~2.8% of the corpus in ONE cell)
    exceeds the cap. Spark reads the persisted Lloyd-trained cells
    (index_store.ivf_trained — the same quantizer the IVF serving
    path probes); the oracle re-trains them from the raw corpus, so
    this row also re-proves the stored model."""
    from multi_search_retrival_big_data_spark import index_store

    cent_df, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    return dedup.semantic_dedup(
        assign, cent_df, SEMANTIC_DUP_THRESHOLD,
        max_cell=SEM_MAX_CELL_PRODUCTION, dim=EMB_DIM,
    ).orderBy("vec_id")


@query(
    "dedup_semantic_recall_audit",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_PAIRS_CTE},
    strue AS (
      SELECT ea.vec_id AS id_a, eb.vec_id AS id_b
      FROM kem ea JOIN kem eb ON ea.vec_id < eb.vec_id
      WHERE {sql_det_round(_sem_cos('ea.v', 'eb.v'))} >= {SEMANTIC_DUP_THRESHOLD}
    )
    SELECT (SELECT count(*) FROM spairs) AS found,
           (SELECT count(*) FROM strue) AS true_pairs,
           CAST((SELECT count(*) FROM spairs) AS DOUBLE)
             / CAST((SELECT count(*) FROM strue) AS DOUBLE) AS recall
    """,
)
def dedup_semantic_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance row for the SemDeDup approximation: within-cell pair
    recall vs the exact all-pairs ground truth at the same threshold
    (pairs straddling cell boundaries are the misses — the knob is the
    centroid count; dedup_lsh_recall_audit is the MinHash analogue).
    The exact side is the documented quadratic audit path
    (emb_near_dup_exact), never a production plan."""
    from multi_search_retrival_big_data_spark import index_store

    emb = tables.load(spark, "embeddings", sf_dir)
    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    found = dedup.semantic_candidate_pairs(assign, SEMANTIC_DUP_THRESHOLD).agg(
        F.count(F.lit(1)).alias("found")
    )
    true_pairs = ann.embedding_near_dup_pairs(
        emb, SEMANTIC_DUP_THRESHOLD, use_lsh=False, round_to=6
    ).agg(F.count(F.lit(1)).alias("true_pairs"))
    return found.crossJoin(true_pairs).select(
        "found",
        "true_pairs",
        (F.col("found").cast("double") / F.col("true_pairs").cast("double")).alias(
            "recall"
        ),
    )


@query(
    "dedup_semantic_delta_pairs",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    t1 AS (SELECT CAST(floor(max(vec_id) * 0.6) AS BIGINT) AS v FROM embeddings),
    dpairs AS (
      SELECT least(a.vec_id, b.vec_id) AS id_a,
             greatest(a.vec_id, b.vec_id) AS id_b
      FROM tassign a
      JOIN tassign b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE a.vec_id >= (SELECT v FROM t1)
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT d.id_a, d.id_b,
             {sql_det_round(_sem_cos('ea.v', 'eb.v'))} AS cosine
      FROM dpairs d
      JOIN kem ea ON ea.vec_id = d.id_a
      JOIN kem eb ON eb.vec_id = d.id_b
    )
    SELECT id_a, id_b, cosine FROM verified
    WHERE cosine >= {SEMANTIC_DUP_THRESHOLD}
    ORDER BY cosine DESC, id_a, id_b
    """,
)
def dedup_semantic_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup probe: the delta corpus slice (ids ≥ the
    60% split, the incremental_split_filters arithmetic) is appended
    into the cid-partitioned assignment table under the FROZEN trained
    quantizer (index_store.ivf_assignments_incremental), then
    dedup.semantic_delta_candidate_pairs probes ONLY the delta's cells
    — O(|delta|·|cell|), the semantic twin of dedup_delta_batch_pairs.
    The oracle re-derives the full-corpus assignment and takes every
    ≥-threshold pair touching the delta, proving append + probe ≡
    full recompute."""
    from multi_search_retrival_big_data_spark import index_store

    base_f, (d1, d2) = index_store.incremental_split_filters(spark, sf_dir)
    delta_f = f"({d1}) OR ({d2})"
    assign = index_store.ivf_assignments_incremental(spark, sf_dir, base_f, delta_f)
    emb = tables.load(spark, "embeddings", sf_dir)
    delta_ids = emb.filter(delta_f).select("vec_id")
    return dedup.semantic_delta_candidate_pairs(
        assign, delta_ids, SEMANTIC_DUP_THRESHOLD
    ).orderBy(F.desc("cosine"), "id_a", "id_b")


# ---- SemDeDup viral-cell guard (SRP sub-bucketing inside mega cells) -------

from multi_search_retrival_big_data_spark.queries.common import sql_vec  # noqa: E402

_SEM_MAX_CELL = 8  # fires on every sf0.01 cell (~50 members) — non-vacuous proof
_SEM_PLANES = ann.hyperplanes(EMB_DIM, ann.NUM_PLANES)
_SEM_ROWS = ann.NUM_PLANES // ann.ANN_BANDS


def _sem_sig_sql(vec_expr: str) -> str:
    cases = ", ".join(
        f"CASE WHEN list_dot_product({vec_expr}, {sql_vec(p)}) >= 0 THEN '1' ELSE '0' END"
        for p in _SEM_PLANES
    )
    return f"concat({cases})"


_SEM_CAPPED_CAND = f"""msize AS (SELECT cid, count(*) AS m FROM tassign GROUP BY 1),
    ssig AS MATERIALIZED (
      SELECT a.vec_id, a.cid, {_sem_sig_sql('e.v')} AS s
      FROM tassign a
      JOIN kem e USING (vec_id)
      JOIN msize z ON z.cid = a.cid AND z.m > {_SEM_MAX_CELL}
    ),
    sbanded AS MATERIALIZED (
      SELECT vec_id, cid, CAST(b AS INTEGER) AS band,
             substring(s, CAST(b AS INTEGER) * {_SEM_ROWS} + 1, {_SEM_ROWS}) AS bval,
             count(*) OVER (
               PARTITION BY cid, CAST(b AS INTEGER),
                            substring(s, CAST(b AS INTEGER) * {_SEM_ROWS} + 1, {_SEM_ROWS})
             ) AS m2,
             min(vec_id) OVER (
               PARTITION BY cid, CAST(b AS INTEGER),
                            substring(s, CAST(b AS INTEGER) * {_SEM_ROWS} + 1, {_SEM_ROWS})
             ) AS mn,
             lag(vec_id) OVER (
               PARTITION BY cid, CAST(b AS INTEGER),
                            substring(s, CAST(b AS INTEGER) * {_SEM_ROWS} + 1, {_SEM_ROWS})
               ORDER BY vec_id
             ) AS prev
      FROM ssig, unnest(range(0, {ann.ANN_BANDS})) AS t(b)
    ),
    small_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM tassign a
      JOIN tassign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN msize z ON z.cid = a.cid AND z.m <= {_SEM_MAX_CELL}
    ),
    mega_pairs AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sbanded a
        JOIN sbanded b ON a.cid = b.cid AND a.band = b.band
                      AND a.bval = b.bval AND a.vec_id < b.vec_id
        WHERE a.m2 <= {_SEM_MAX_CELL}
        UNION ALL
        SELECT prev AS id_a, vec_id AS id_b FROM sbanded
        WHERE m2 > {_SEM_MAX_CELL} AND prev IS NOT NULL
        UNION ALL
        SELECT mn AS id_a, vec_id AS id_b FROM sbanded
        WHERE m2 > {_SEM_MAX_CELL} AND vec_id > mn
      )
    ),
    scand AS (SELECT id_a, id_b FROM small_pairs
              UNION SELECT id_a, id_b FROM mega_pairs),
    vcap AS (
      SELECT c.id_a, c.id_b, {sql_det_round(_sem_cos('ea.v', 'eb.v'))} AS cosine
      FROM scand c
      JOIN kem ea ON ea.vec_id = c.id_a
      JOIN kem eb ON eb.vec_id = c.id_b
      WHERE {sql_det_round(_sem_cos('ea.v', 'eb.v'))} >= {SEMANTIC_DUP_THRESHOLD}
    )"""


@query(
    "dedup_semantic_capped_pairs",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_CAPPED_CAND}
    SELECT id_a, id_b, cosine FROM vcap
    ORDER BY cosine DESC, id_a, id_b
    """,
)
def dedup_semantic_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs through the CAPPED candidate path
    (dedup.semantic_candidate_pairs max_cell): cells over the cap are
    sub-bucketed by SRP hyperplane bands before pairing, so a viral
    cell contributes O(m · collision rate) candidates instead of
    O(m²). The oracle mirrors the capped generation exactly (cell
    sizes → band sub-buckets → verify), proving the Spark capped path
    bit-for-bit — the dedup_minhash_lsh_capped analogue for the
    embedding side."""
    from multi_search_retrival_big_data_spark import index_store

    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    return dedup.semantic_candidate_pairs(
        assign, SEMANTIC_DUP_THRESHOLD, max_cell=_SEM_MAX_CELL, dim=EMB_DIM
    ).orderBy(F.desc("cosine"), "id_a", "id_b")


@query(
    "dedup_semantic_capped_recall_audit",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_PAIRS_CTE},
    {_SEM_CAPPED_CAND}
    SELECT (SELECT count(*) FROM vcap) AS found,
           (SELECT count(*) FROM spairs) AS cell_pairs,
           CAST((SELECT count(*) FROM vcap) AS DOUBLE)
             / CAST((SELECT count(*) FROM spairs) AS DOUBLE) AS recall
    """,
)
def dedup_semantic_capped_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the viral-cell cap drops: capped verified pairs vs the
    uncapped within-cell pair set at the same threshold. Unlike the
    MinHash chain+star cap (lossless for closure — its buckets are
    duplicate cliques), SRP sub-bucketing inside a Voronoi cell trades
    recall probabilistically like any LSH band — this row keeps the
    trade measured (the dedup_lsh_capped_recall_audit analogue)."""
    from multi_search_retrival_big_data_spark import index_store

    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    found = dedup.semantic_candidate_pairs(
        assign, SEMANTIC_DUP_THRESHOLD, max_cell=_SEM_MAX_CELL, dim=EMB_DIM
    ).agg(F.count(F.lit(1)).alias("found"))
    base = dedup.semantic_candidate_pairs(assign, SEMANTIC_DUP_THRESHOLD).agg(
        F.count(F.lit(1)).alias("cell_pairs")
    )
    return found.crossJoin(base).select(
        "found",
        "cell_pairs",
        (F.col("found").cast("double") / F.col("cell_pairs").cast("double")).alias(
            "recall"
        ),
    )


@query(
    "dedup_semantic_keep_guarded",
    oracle=f"""
    WITH RECURSIVE {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_CAPPED_CAND},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM vcap
      UNION
      SELECT id_b AS src, id_a AS dst FROM vcap
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach AS (
      SELECT n, n AS m FROM nodes
      UNION
      SELECT r.n, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT n AS vec_id, min(m) AS cluster_id FROM reach GROUP BY n),
    csim AS MATERIALIZED (
      SELECT a.vec_id, {sql_det_round(_sem_cos('e.v', 'c.cv'))} AS sim
      FROM tassign a JOIN kem e USING (vec_id) JOIN tcent c USING (cid)
    ),
    ranked AS MATERIALIZED (
      SELECT m.vec_id, m.cluster_id,
             row_number() OVER (
               PARTITION BY m.cluster_id ORDER BY s.sim ASC, m.vec_id ASC
             ) AS rn
      FROM comp m JOIN csim s USING (vec_id)
    )
    SELECT e.vec_id,
           COALESCE(r.cluster_id, e.vec_id) AS cluster_id,
           COALESCE(r.rn = 1, TRUE) AS keep
    FROM embeddings e LEFT JOIN ranked r ON r.vec_id = e.vec_id
    ORDER BY e.vec_id
    """,
)
def dedup_semantic_keep_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup product table with the viral-cell guard FORCED ON
    (max_cell=8, below every sf0.01 cell size): proves the SRP
    sub-bucket branch end-to-end THROUGH components + keep election,
    not just at the pair level. Unlike the MinHash cap (lossless for
    closure — its buckets are duplicate cliques) the SRP sub-bucket
    trade is probabilistic, so the oracle mirrors the CAPPED
    generation bit-for-bit (cell sizes → band sub-buckets → verify →
    closure → election); the recall the guard trades is priced by
    dedup_semantic_capped_recall_audit. The production table
    (dedup_semantic_keep) arms the same guard at
    SEM_MAX_CELL_PRODUCTION, where it fires only on genuinely viral
    cells — this row is why that configuration can be trusted when it
    does."""
    from multi_search_retrival_big_data_spark import index_store

    cent_df, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    return dedup.semantic_dedup(
        assign, cent_df, SEMANTIC_DUP_THRESHOLD,
        max_cell=_SEM_MAX_CELL, dim=EMB_DIM,
    ).orderBy("vec_id")


# ---- semantic decontamination + cell-budget monitor ------------------------

_SEM_EV = "md5(CAST({id} AS VARCHAR)) < '{thr}'"


@query(
    "decontamination_semantic_overlap",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    epairs AS (
      SELECT least(a.vec_id, b.vec_id) AS id_a,
             greatest(a.vec_id, b.vec_id) AS id_b
      FROM tassign a
      JOIN tassign b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE {_SEM_EV.format(id="a.vec_id", thr=_EVAL_THR)}
      GROUP BY 1, 2
    ),
    cpairs AS (
      SELECT id_a, id_b FROM epairs
      WHERE ({_SEM_EV.format(id="id_a", thr=_EVAL_THR)})
         <> ({_SEM_EV.format(id="id_b", thr=_EVAL_THR)})
    ),
    everified AS (
      SELECT c.id_a, c.id_b,
             {sql_det_round(_sem_cos('ea.v', 'eb.v'))} AS cosine
      FROM cpairs c
      JOIN kem ea ON ea.vec_id = c.id_a
      JOIN kem eb ON eb.vec_id = c.id_b
    )
    SELECT CASE WHEN {_SEM_EV.format(id="id_a", thr=_EVAL_THR)} THEN id_b ELSE id_a END AS corpus_id,
           CASE WHEN {_SEM_EV.format(id="id_a", thr=_EVAL_THR)} THEN id_a ELSE id_b END AS eval_id,
           cosine
    FROM everified
    WHERE cosine >= {SEMANTIC_DUP_THRESHOLD}
    ORDER BY cosine DESC, corpus_id, eval_id
    """,
)
def decontamination_semantic_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: embedding-space near-dups that CROSS
    the md5 eval/corpus split — the contamination MinHash cannot see
    (a paraphrased eval answer shares no 5-gram shingles but sits next
    to its source in embedding space; this is how modern training
    pipelines audit eval leakage). Same probe shape as
    dedup_semantic_delta_pairs with the eval slice as the delta: the
    persisted cell assignment is probed at the eval rows' cells only —
    an eval set is ≪ corpus, so the scan is eval-bound, never a corpus
    self-join. Output: (corpus_id, eval_id, cosine) — the training
    docs to quarantine (decontamination_minhash_overlap's semantic
    twin)."""
    from multi_search_retrival_big_data_spark import index_store

    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    is_eval = lambda c: F.md5(F.col(c).cast("string")) < F.lit(_EVAL_THR)  # noqa: E731
    eval_ids = assign.filter(is_eval("vec_id")).select("vec_id")
    pairs = dedup.semantic_delta_candidate_pairs(
        assign, eval_ids, SEMANTIC_DUP_THRESHOLD
    ).filter(is_eval("id_a") != is_eval("id_b"))
    a_is_eval = is_eval("id_a")
    return pairs.select(
        F.when(a_is_eval, F.col("id_b")).otherwise(F.col("id_a")).alias("corpus_id"),
        F.when(a_is_eval, F.col("id_a")).otherwise(F.col("id_b")).alias("eval_id"),
        F.col("cosine"),
    ).orderBy(F.desc("cosine"), "corpus_id", "eval_id")


@query(
    "monitor_semantic_cell_stats",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES}
    SELECT cid, count(*) AS n_vecs,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS pair_budget
    FROM tassign GROUP BY cid ORDER BY cid
    """,
)
def monitor_semantic_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's drift/budget gauge: per-cell population and the
    quadratic pair budget it implies — the operational signal that a
    cell went viral (trigger the max_cell guard or retrain with more
    centroids) and the vector-side analogue of dedup_lsh_bucket_stats.
    Cell-size skew, not recall, is the robust drift signal on this
    corpus (see ann_incremental_recall_drift / BASELINE.md)."""
    from multi_search_retrival_big_data_spark import index_store

    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    n = F.count(F.lit(1))
    return (
        assign.groupBy("cid")
        .agg(
            n.alias("n_vecs"),
            (n * (n - F.lit(1)) / F.lit(2)).cast("bigint").alias("pair_budget"),
        )
        .orderBy("cid")
    )


# ---- exact-substring (duplicate-span) dedup --------------------------------
# Oracle CTEs are GENERATED from the same constants the operators use
# (dedup.SPAN_MIN_TOKENS / SPAN_MIN_DOCS) so the two sides cannot drift.

_SPAN_L = dedup.SPAN_MIN_TOKENS
_SPAN_D = dedup.SPAN_MIN_DOCS


def _span_marked_ctes(L: int = _SPAN_L, min_docs: int = _SPAN_D) -> str:
    """toks -> sh (window hash per 1-based token position) -> dup ->
    marked, mirroring dedup.duplicate_span_windows token-for-token
    (regexp_extract_all '\\w+' == functions.text.tokenize; DuckDB
    1-based inclusive list slice t[i:i+L-1] == Spark slice(t, i, L);
    md5 over the identical space-joined bytes)."""
    return f"""
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[CAST(i AS INTEGER):CAST(i + {L - 1} AS INTEGER)], ' ')) AS h
      FROM toks, unnest(range(1, len(t) - {L} + 2)) AS u(i)
      WHERE len(t) >= {L}
    ),
    dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}),
    marked AS (SELECT doc_id, pos FROM sh JOIN dup USING (h))"""


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH {_span_marked_ctes()},
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {_SPAN_L}
                  THEN 1 ELSE 0 END AS is_new
      FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {_SPAN_L - 1} AS span_end,
           MAX(pos) + {_SPAN_L - 1} - MIN(pos) + 1 AS span_len,
           COUNT(*) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup CUT LISTS (Lee et al. 2022): maximal token
    spans duplicated verbatim across >= 2 documents at >= 8-token
    granularity — the span-level contamination document-level MinHash
    cannot see. Gate corpus contains planted duplicated spans (the
    8-token windows hit ~47 docs at sf0.01). Oracle recomputes the
    rolling window hashes, the cross-doc HAVING filter, and the
    gaps-and-islands merge in SQL CTEs."""
    docs = tables.load(spark, "documents", sf_dir)
    return dedup.duplicate_spans(docs, "doc_id", "text").orderBy(
        "doc_id", "span_start"
    )


@query(
    "dedup_remove_duplicate_spans",
    oracle=f"""
    WITH {_span_marked_ctes()},
    covered AS (
      SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS pos
      FROM marked, unnest(range(pos, pos + {_SPAN_L})) AS v(j)
    ),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INTEGER)] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    j AS (
      SELECT tok.doc_id, tok.pos, tok.tok, covered.pos IS NOT NULL AS cov
      FROM tok LEFT JOIN covered
        ON covered.doc_id = tok.doc_id AND covered.pos = tok.pos
    )
    SELECT doc_id,
           string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT cov) AS text,
           COUNT(*) FILTER (WHERE NOT cov) AS n_tokens_kept,
           COUNT(*) FILTER (WHERE cov) AS n_tokens_removed
    FROM j GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup PRODUCT: every document reassembled with
    duplicated-span tokens cut out (token-granularity rejoin; text NULL
    iff zero tokens kept — the string_agg-FILTER contract shared with
    pipeline_remove_boilerplate). The reassembled text itself is
    hash-compared against the oracle's ordered string_agg, so the cut
    positions AND the rejoin order are value-proven, not just span
    counts."""
    docs = tables.load(spark, "documents", sf_dir)
    return dedup.remove_duplicate_spans(docs, "doc_id", "text").orderBy("doc_id")


# ---- SemDeDup quantizer retrain policy (nlist ∝ corpus) --------------------

_RP_GROWTH = 4
_RP_SHIFT = 10_000_000
_RP_STRIDE = 62  # == ann.IVF_CENTROID_STRIDE == ann.IVF_TARGET_CELL


def _rp_arm_sql(seeds: str, cells: str) -> str:
    return f"""
    SELECT count(*) AS n_cells_used, max(n) AS max_cell,
           CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT)) AS BIGINT) AS pair_budget,
           COUNT(*) FILTER (WHERE n > {SEM_MAX_CELL_PRODUCTION}) AS cells_over_cap
    FROM {cells}"""


@query(
    "dedup_semantic_retrain_policy",
    oracle=f"""
    WITH grown AS MATERIALIZED (
      SELECT vec_id + r * {_RP_SHIFT} AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                 (x, j) -> x + CASE WHEN j - 1 = (r % 64)
                                    THEN r * 0.37 ELSE 0.0 END) AS v
      FROM embeddings, unnest(range(0, {_RP_GROWTH})) AS t(r)
    ),
    fseeds AS (SELECT vec_id AS cid, v AS cv FROM grown
               WHERE vec_id < {_RP_SHIFT} AND vec_id % {_RP_STRIDE} = 0),
    rseeds AS (SELECT vec_id AS cid, v AS cv FROM grown
               WHERE vec_id % {_RP_STRIDE} = 0),
    fassign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv) ASC, c.cid ASC) AS rn
        FROM grown e CROSS JOIN fseeds c) WHERE rn = 1
    ),
    rassign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cv) ASC, c.cid ASC) AS rn
        FROM grown e CROSS JOIN rseeds c) WHERE rn = 1
    ),
    fcells AS (SELECT cid, count(*) AS n FROM fassign GROUP BY cid),
    rcells AS (SELECT cid, count(*) AS n FROM rassign GROUP BY cid)
    SELECT 'frozen' AS arm, * FROM ({_rp_arm_sql('fseeds', 'fcells')})
    UNION ALL
    SELECT 'retrained' AS arm, * FROM ({_rp_arm_sql('rseeds', 'rcells')})
    ORDER BY arm
    """,
)
def dedup_semantic_retrain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantizer RETRAIN POLICY proof (ann.ivf_nlist: nlist =
    ⌈N/target_cell_size⌉): the corpus grown 4× deterministically, then
    assigned under (a) the FROZEN build-time quantizer — what the
    incremental append paths serve without a retrain; cells grow ∝
    growth, the SemDeDup pair budget ∝ growth² per cell — vs (b) a
    quantizer RETRAINED on the current corpus at the same target cell
    size — nlist scales with N, cells stay ≈ target, the max_cell
    guard returns to being the viral-cell exception. One row per arm:
    (arm, n_cells_used, max_cell, pair_budget, cells_over_cap at the
    production cap). This is the last 100×-design rule of the SemDeDup
    family: monitors (monitor_semantic_cell_stats) detect the growth,
    this policy says what to retrain to."""
    from multi_search_retrival_big_data_spark import index_store

    fa, ra, _ = index_store.ivf_retrain_arms(
        spark, sf_dir, growth=_RP_GROWTH, stride=_RP_STRIDE, shift=_RP_SHIFT
    )

    def stats(a: DataFrame, arm: str) -> DataFrame:
        per = a.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.count(F.lit(1)).alias("n_cells_used"),
            F.max("n").alias("max_cell"),
            F.sum(
                (F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2)).cast("bigint")
            ).alias("pair_budget"),
            F.sum(
                F.when(F.col("n") > SEM_MAX_CELL_PRODUCTION, 1).otherwise(0)
            ).alias("cells_over_cap"),
        ).select(F.lit(arm).alias("arm"), "*")

    return stats(fa, "frozen").union(stats(ra, "retrained")).orderBy("arm")


# ---- recall-audit consolidation (r7 verdict item 4 + advice item 3) --------
#
# The capped and uncapped recall audits of each dedup family are one
# governance product read together; registering them separately cost
# registry rows without adding capability. Each merged row unions the
# arms under (arm, ...) — the LSH pair reuses both original plans and
# oracles verbatim; the semantic pair is REWRITTEN to also decompose
# the cap's loss into its two mechanisms (advice r7 item 3): band_loss
# (pairs whose members share no SRP band inside their mega cell) vs
# chain_break_loss (pairs banding kept but the over-cap sub-bucket's
# chain+star spanning emission dropped — the clique-assumption trade).

from multi_search_retrival_big_data_spark.queries import REGISTRY as _REG  # noqa: E402


def _absorb(name: str):
    qd = _REG.pop(name)
    return qd.fn, qd.oracle


_lsh_audit_fn, _lsh_audit_oracle = _absorb("dedup_lsh_recall_audit")
_lsh_capped_fn, _lsh_capped_oracle = _absorb("dedup_lsh_capped_recall_audit")
_absorb("dedup_semantic_recall_audit")
_absorb("dedup_semantic_capped_recall_audit")


@query(
    "dedup_lsh_recall_audits",
    oracle=f"""
    SELECT 'capped' AS arm, * FROM ({_lsh_capped_oracle})
    UNION ALL
    SELECT 'uncapped' AS arm, * FROM ({_lsh_audit_oracle})
    ORDER BY arm
    """,
)
def dedup_lsh_recall_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall governance, both arms in one row-pair:
    'uncapped' = banded candidates vs the exact all-pairs ground truth
    (recall alone prices the banding — precision is 1 by construction);
    'capped' = the same audit through the mega-bucket cap (spanning
    pair sets intentionally drop within-mega-bucket PAIRS; the capped
    clusters match the uncapped ones on the committed testdata, see
    dedup_cluster_components_capped, and differ on perfbench
    curate_batch seeds 8, 11, 22, 24, 30, 32 and 33). Each arm's plan
    and oracle are the original audits', unioned."""
    capped = _lsh_capped_fn(spark, sf_dir).select(F.lit("capped").alias("arm"), "*")
    unc = _lsh_audit_fn(spark, sf_dir).select(F.lit("uncapped").alias("arm"), "*")
    return capped.union(unc).orderBy("arm")


@query(
    "dedup_semantic_recall_audits",
    oracle=f"""
    WITH {KEM_CTE},
    {_SEM_MODEL_CTES},
    {_SEM_PAIRS_CTE},
    {_SEM_CAPPED_CAND},
    strue AS (
      SELECT ea.vec_id AS id_a, eb.vec_id AS id_b
      FROM kem ea JOIN kem eb ON ea.vec_id < eb.vec_id
      WHERE {sql_det_round(_sem_cos('ea.v', 'eb.v'))} >= {SEMANTIC_DUP_THRESHOLD}
    ),
    megatrue AS MATERIALIZED (
      SELECT p.id_a, p.id_b FROM spairs p
      JOIN tassign ta ON ta.vec_id = p.id_a
      JOIN msize z ON z.cid = ta.cid AND z.m > {_SEM_MAX_CELL}
    ),
    bandkept AS MATERIALIZED (
      SELECT DISTINCT p.id_a, p.id_b
      FROM megatrue p
      JOIN sbanded a ON a.vec_id = p.id_a
      JOIN sbanded b ON b.vec_id = p.id_b AND b.cid = a.cid
                    AND b.band = a.band AND b.bval = a.bval
    ),
    emitkept AS (
      SELECT p.id_a, p.id_b FROM megatrue p
      JOIN vcap v ON v.id_a = p.id_a AND v.id_b = p.id_b
    )
    SELECT 'cap' AS arm,
           (SELECT count(*) FROM vcap) AS found,
           (SELECT count(*) FROM spairs) AS base_pairs,
           CAST((SELECT count(*) FROM vcap) AS DOUBLE)
             / CAST((SELECT count(*) FROM spairs) AS DOUBLE) AS recall,
           (SELECT count(*) FROM megatrue) - (SELECT count(*) FROM bandkept) AS band_loss,
           (SELECT count(*) FROM bandkept) - (SELECT count(*) FROM emitkept) AS chain_break_loss
    UNION ALL
    SELECT 'cell_boundary',
           (SELECT count(*) FROM spairs),
           (SELECT count(*) FROM strue),
           CAST((SELECT count(*) FROM spairs) AS DOUBLE)
             / CAST((SELECT count(*) FROM strue) AS DOUBLE),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ORDER BY arm
    """,
)
def dedup_semantic_recall_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup recall governance, both approximations priced in one
    row-pair, and the cap arm's loss DECOMPOSED by mechanism:

    - arm='cell_boundary': uncapped within-cell verified pairs vs the
      exact all-pairs ground truth — what the k-means cell bounding
      itself drops (pairs straddling cells; knob = centroid count /
      ann.ivf_nlist).
    - arm='cap': capped-path verified pairs vs the uncapped within-cell
      set (the guard's own loss, audit cap = {_SEM_MAX_CELL} so it
      fires non-vacuously at gate scale), split into `band_loss`
      (members of a true pair share NO SRP band inside their mega
      cell — the probabilistic LSH trade, bought back with more
      planes/bands) and `chain_break_loss` (banding kept the pair but
      the over-cap sub-bucket emitted only its chain+star spanning set
      — the clique-likeness assumption's residual price, advice r7
      item 3). found = base_pairs - band_loss - chain_break_loss over
      the mega cells plus the small-cell all-pairs, so the cap's total
      price is fully attributed.

    Loss columns are 0 on the cell_boundary arm (no cap there)."""
    from multi_search_retrival_big_data_spark import index_store

    emb = tables.load(spark, "embeddings", sf_dir)
    _, assign = index_store.ivf_trained(spark, sf_dir, iters=_SEM_ITERS)
    spairs = dedup.semantic_candidate_pairs(assign, SEMANTIC_DUP_THRESHOLD)
    strue = ann.embedding_near_dup_pairs(
        emb, SEMANTIC_DUP_THRESHOLD, use_lsh=False, round_to=6
    )
    capped = dedup.semantic_candidate_pairs(
        assign, SEMANTIC_DUP_THRESHOLD, max_cell=_SEM_MAX_CELL, dim=EMB_DIM
    ).select("id_a", "id_b")
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("__m"))
    mega_assign = assign.join(
        F.broadcast(sizes.filter(F.col("__m") > _SEM_MAX_CELL).select("cid")), "cid"
    )
    mega_true = dedup.semantic_candidate_pairs(
        mega_assign, SEMANTIC_DUP_THRESHOLD
    ).select("id_a", "id_b")
    band_pairs = dedup._mega_cell_band_pairs(
        mega_assign, "vec_id", "embedding", "cid", EMB_DIM, sub_cap=None
    )
    band_kept = mega_true.join(band_pairs, ["id_a", "id_b"], "left_semi")
    emit_kept = mega_true.join(capped, ["id_a", "id_b"], "left_semi")

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    # 1-row × 1-row scalar combines throughout (SCALAR_BROADCAST_OK)
    cap_row = (
        cnt(capped, "found")
        .crossJoin(F.broadcast(cnt(spairs, "base_pairs")))
        .crossJoin(F.broadcast(cnt(mega_true, "__n_megatrue")))
        .crossJoin(F.broadcast(cnt(band_kept, "__n_bandkept")))
        .crossJoin(F.broadcast(cnt(emit_kept, "__n_emit")))
        .select(
            F.lit("cap").alias("arm"),
            "found",
            "base_pairs",
            (F.col("found").cast("double") / F.col("base_pairs").cast("double")).alias(
                "recall"
            ),
            (F.col("__n_megatrue") - F.col("__n_bandkept")).alias("band_loss"),
            (F.col("__n_bandkept") - F.col("__n_emit")).alias("chain_break_loss"),
        )
    )
    cb_row = (
        cnt(spairs, "found")
        .crossJoin(F.broadcast(cnt(strue, "base_pairs")))
        .select(
            F.lit("cell_boundary").alias("arm"),
            "found",
            "base_pairs",
            (F.col("found").cast("double") / F.col("base_pairs").cast("double")).alias(
                "recall"
            ),
            F.lit(0).cast("bigint").alias("band_loss"),
            F.lit(0).cast("bigint").alias("chain_break_loss"),
        )
    )
    return cap_row.union(cb_row).orderBy("arm")


# ---- same-schema arm consolidations (r7 verdict item 4) ---------------------
# Each pair below proved two arms of one capability with identical
# output schemas; the merged row unions them under an `arm` label with
# every original plan and oracle running unchanged inside.

_pr_simple_fn, _pr_simple_oracle = _absorb("graph_source_pagerank")
_pr_redist_fn, _pr_redist_oracle = _absorb("graph_source_pagerank_redistributed")


@query(
    "graph_source_pagerank_arms",
    oracle=f"""
    SELECT 'redistributed' AS arm, * FROM ({_pr_redist_oracle})
    UNION ALL
    SELECT 'simple' AS arm, * FROM ({_pr_simple_oracle})
    ORDER BY arm, rank DESC, source
    """,
)
def graph_source_pagerank_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the source-level near-dup graph, both variants in
    one row-set: 'simple' = fixed-round power iteration over the
    symmetric graph (documented leaky form), 'redistributed' =
    per-round dangling-mass redistribution over the DIRECTED low→high
    graph (mass conserved at 1.0 — the production host-rank form).
    Plans and unrolled-CTE oracles are the originals', unioned."""
    simple = _pr_simple_fn(spark, sf_dir).select(F.lit("simple").alias("arm"), "*")
    redist = _pr_redist_fn(spark, sf_dir).select(
        F.lit("redistributed").alias("arm"), "*"
    )
    return redist.union(simple).orderBy("arm", F.desc("rank"), "source")


_gs_rollup_fn, _gs_rollup_oracle = _absorb("profile_rollup_lang_source")
_gs_cube_fn, _gs_cube_oracle = _absorb("profile_cube_lang_source")


@query(
    "profile_grouping_sets_lang_source",
    oracle=f"""
    SELECT 'cube' AS arm, * FROM ({_gs_cube_oracle})
    UNION ALL
    SELECT 'rollup' AS arm, * FROM ({_gs_rollup_oracle})
    ORDER BY arm, lang NULLS FIRST, source NULLS FIRST
    """,
)
def profile_grouping_sets_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP grouping-set profiling over (lang, source), both operators
    in one row-set: 'rollup' (hierarchical subtotals + grand total) and
    'cube' (all four grouping sets via Spark's Expand). Each arm's plan
    and oracle are the originals', unioned under the arm label."""
    ro = _gs_rollup_fn(spark, sf_dir).select(F.lit("rollup").alias("arm"), "*")
    cu = _gs_cube_fn(spark, sf_dir).select(F.lit("cube").alias("arm"), "*")
    return cu.union(ro).orderBy(
        "arm", F.asc_nulls_first("lang"), F.asc_nulls_first("source")
    )
