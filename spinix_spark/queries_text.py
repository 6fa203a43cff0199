"""Training-data text ops over ``documents``: dedup, quality, language
ID, fingerprinting — each as a Spark query + DuckDB oracle.

Where both engines accept the identical ANSI text (hash/window/string
arithmetic) the SQL is shared. Shingle-based ops (n-gram Jaccard,
MinHash+LSH, SimHash) need list/lateral syntax that differs by
dialect, so both variants are *generated from the same constants*
(hash family, band layout, shingle width) — the values are forced to
agree because every arithmetic step is integer or exact-double and the
token hash is the engines' common ``md5``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spinix_spark.io.derive import load_tables

# MinHash family: h_j(x) = (a_j * x + b_j) mod P over 32-bit md5-prefix
# token hashes (the classic (a x + b) mod p universal family).
P = 2147483647
N_HASHES = 16
BANDS = 4  # 4 bands × 4 rows
A = [(2654435761 * (j + 1)) % P for j in range(N_HASHES)]
B = [(40503 * (j + 1) + 7) % P for j in range(N_HASHES)]
SHINGLE_W = 3
SIMHASH_BITS = 16


def _shared(sql: str, tables=("documents",)):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, list(tables))
        return spark.sql(sql)

    return fn, sql


def _split(spark_sql: str, duck_sql: str, tables=("documents",)):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, list(tables))
        return spark.sql(spark_sql)

    return fn, duck_sql


# --- shared-SQL ops ------------------------------------------------------

Q_DEDUP_EXACT = (
    "SELECT doc_id, md5(text) AS text_hash, "
    "CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) "
    "THEN false ELSE true END AS is_dup FROM documents"
)

Q_FINGERPRINT = "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents"

# Karp-Rabin rolling hash over characters: h = (h*131 + ascii(c)) mod P.
# Same left fold in both engines → identical 31-bit fingerprints.
Q_ROLLHASH_SPARK = (
    "SELECT doc_id, aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), "
    f"(h, i) -> (h * 131 + ascii(substring(text, i, 1))) % {P}) AS roll_hash "
    "FROM documents"
)
Q_ROLLHASH_DUCK = (
    "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, length(text)), "
    "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), "
    f"(h, c) -> (h * 131 + c) % {P}) AS roll_hash FROM documents"
)

Q_TOKEN_COUNT = (
    "SELECT doc_id, "
    "(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS n_tokens, "
    "LENGTH(text) AS n_chars, "
    "CAST(FLOOR((LENGTH(text) + 3.0) / 4.0) AS BIGINT) AS est_bpe_tokens "
    "FROM documents"
)

Q_QUALITY = (
    "SELECT doc_id, n_tokens, "
    "CAST(n_alpha AS DOUBLE) / n_tokens AS mean_word_len, "
    "CAST(n_the AS DOUBLE) / n_tokens AS stopword_ratio, "
    # decimal literals type as DECIMAL in Spark (0.5 * 0.8 → DECIMAL
    # with engine-specific scale); cast each arm to DOUBLE so both
    # engines produce the same IEEE double
    "CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END AS DOUBLE) "
    "* CAST(CASE WHEN CAST(n_the AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.8 END AS DOUBLE) "
    "AS quality_score FROM ("
    "SELECT doc_id, "
    "(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS n_tokens, "
    "LENGTH(REPLACE(text, ' ', '')) AS n_alpha, "
    "CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) AS BIGINT) / 3 AS n_the "
    "FROM documents) q"
)

# marker-word language ID (n-gram/stopword heuristic): counts of
# language-marker substrings decide; deterministic tie-break by
# priority order en > es > de.
Q_LANG_ID = (
    "SELECT doc_id, CASE "
    "WHEN n_en >= n_es AND n_en >= n_de THEN 'en' "
    "WHEN n_es >= n_de THEN 'es' "
    "ELSE 'de' END AS pred_lang, lang AS labeled_lang FROM ("
    "SELECT doc_id, lang, "
    "(LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS n_en, "
    "(LENGTH(text) - LENGTH(REPLACE(text, ' el ', ''))) / 4 AS n_es, "
    "(LENGTH(text) - LENGTH(REPLACE(text, ' der ', ''))) / 5 AS n_de "
    "FROM documents) m"
)


# --- shingle machinery (dialect-split, shared constants) -----------------

# Spark: 0-based array indexing, LATERAL VIEW explode over shingle
# POSITIONS with the shingle string built per exploded row — the
# higher-order ``transform(sequence(...), i -> concat_ws(...))`` form
# is NOT whole-stage-codegen (lambda functions evaluate interpreted)
# and measured 15-25x slower at sf0.1 (round 7, guide §4.1: prefer
# codegen built-ins). DISTINCT (doc_id, sh) ≡ the old per-doc
# ``array_distinct`` — identical output set, value-gate-checked.
_SPARK_SHINGLES = (
    "SELECT DISTINCT doc_id, concat_ws(' ', {spark_elems}) AS sh "
    "FROM (SELECT doc_id, split(text, ' ') AS ws FROM {table} "
    "WHERE size(split(text, ' ')) >= {w} {extra}) t "
    "LATERAL VIEW explode(sequence(0, size(ws) - {w})) ei AS i"
).format

# No-DISTINCT variant for MIN-based signature building: minhash MINs
# are duplicate-insensitive, so the per-doc shingle dedup shuffle is
# pure cost there (the fused xxhash64 path already relied on this).
_SPARK_SHINGLES_ALL = (
    "SELECT doc_id, concat_ws(' ', {spark_elems}) AS sh "
    "FROM (SELECT doc_id, split(text, ' ') AS ws FROM {table} "
    "WHERE size(split(text, ' ')) >= {w} {extra}) t "
    "LATERAL VIEW explode(sequence(0, size(ws) - {w})) ei AS i"
).format
# DuckDB: 1-based list indexing, list_transform/generate_series, unnest
_DUCK_SHINGLES = (
    "SELECT doc_id, unnest(list_distinct(list_transform("
    "generate_series(0, len(ws) - {w}), "
    "i -> {duck_elems}))) AS sh "
    "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {table} "
    "WHERE len(string_split(text, ' ')) >= {w} {extra}) t"
).format

_SPARK_ELEMS = ", ".join(f"ws[i + {k}]" for k in range(SHINGLE_W))
_DUCK_ELEMS = " || ' ' || ".join(f"ws[i + {k + 1}]" for k in range(SHINGLE_W))


def spark_shingles(extra: str = "", table: str = "documents") -> str:
    return _SPARK_SHINGLES(w=SHINGLE_W, spark_elems=_SPARK_ELEMS, extra=extra, table=table)


def spark_shingles_all(extra: str = "", table: str = "documents") -> str:
    """Shingle stream WITHOUT the per-doc dedup — for MIN-based
    signature aggregation only (duplicates cannot change a MIN)."""
    return _SPARK_SHINGLES_ALL(
        w=SHINGLE_W, spark_elems=_SPARK_ELEMS, extra=extra, table=table
    )


def duck_shingles(extra: str = "", table: str = "documents") -> str:
    return _DUCK_SHINGLES(w=SHINGLE_W, duck_elems=_DUCK_ELEMS, extra=extra, table=table)


def _jaccard_sql(shingles_sql: str) -> str:
    return (
        f"WITH s AS ({shingles_sql}), "
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter "
        "FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) "
        "SELECT a_id, b_id, jaccard FROM ("
        "SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard "
        "FROM inter JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id) j "
        "WHERE jaccard >= 0.2"
    )


# NAMED CAP (ngram_jaccard_pairs only): the all-pairs shared-shingle
# self-join is quadratic per shingle, so the ORACLE-CHECK variant is
# bounded to doc_id < 200 by design. The full-table scale path is
# ngram_jaccard_lsh below: exact Jaccard restricted to LSH candidate
# pairs — no id cap, no quadratic blowup.
_JACCARD_SCOPE = "AND doc_id < 200"

Q_JACCARD_SPARK = _jaccard_sql(spark_shingles(_JACCARD_SCOPE))
Q_JACCARD_DUCK = _jaccard_sql(duck_shingles(_JACCARD_SCOPE))

# token hash: 32-bit md5 prefix — engines' common hash
_SPARK_X = f"(CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT) % {P})"
_DUCK_X = f"(('0x' || substr(md5(sh), 1, 8))::BIGINT % {P})"


def _minhash_sql(shingles_sql: str, x_expr: str, explode_j: str) -> str:
    return (
        f"WITH s AS ({shingles_sql}), "
        f"hx AS (SELECT doc_id, {x_expr} AS x FROM s), "
        f"hj AS (SELECT doc_id, j, x FROM hx {explode_j}) "
        "SELECT doc_id, j, MIN((a_j * x + b_j) % p_) AS mh FROM ("
        "SELECT doc_id, j, x, "
        f"(2654435761 * (j + 1)) % {P} AS a_j, "
        f"(40503 * (j + 1) + 7) % {P} AS b_j, {P} AS p_ FROM hj) h "
        "GROUP BY doc_id, j"
    )


_SPARK_EXPLODE_J = f"LATERAL VIEW explode(sequence(0, {N_HASHES - 1})) tj AS j"
_DUCK_EXPLODE_J = f"CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS j) js"


def _minhash_sql_wide_noexplode(shingles_sql: str, x_expr: str) -> str:
    """WIDE minhash (one row per doc, mh0..mh15): the aggregation pass
    of :func:`_minhash_sql_wide` without the stack-unpivot — the
    band-bucket SQL consumes this shape directly (round 7), skipping
    the long form's 16x re-aggregation."""
    mins = ", ".join(
        f"MIN(({A[j]} * x + {B[j]}) % {P}) AS mh{j}" for j in range(N_HASHES)
    )
    return (
        f"SELECT doc_id, {mins} FROM "
        f"(SELECT doc_id, {x_expr} AS x FROM ({shingles_sql}) s) hx "
        f"GROUP BY doc_id"
    )


def _minhash_sql_wide(shingles_sql: str, x_expr: str) -> str:
    """Spark-side minhash: ONE aggregation pass with 16 MIN exprs over
    the (doc, shingle-hash) rows, then stack-unpivot to the long form —
    avoids multiplying the exploded shingle stream ×N_HASHES (the
    naive long-form plan shuffles 16× the data). Values are identical
    to the long-form oracle."""
    stack_args = ", ".join(
        f"CAST({j} AS BIGINT), mh{j}" for j in range(N_HASHES)
    )
    return (
        f"WITH w AS ({_minhash_sql_wide_noexplode(shingles_sql, x_expr)}) "
        f"SELECT doc_id, j, mh FROM w "
        f"LATERAL VIEW stack({N_HASHES}, {stack_args}) t AS j, mh"
    )


Q_MINHASH_SPARK = _minhash_sql_wide(spark_shingles_all(), _SPARK_X)
Q_MINHASH_DUCK = _minhash_sql(duck_shingles(), _DUCK_X, _DUCK_EXPLODE_J)


def _lsh_pairs_from(mh_source: str) -> str:
    """LSH band-bucket pair SQL over a minhash source (subquery or
    view/table name)."""
    rows_per_band = N_HASHES // BANDS
    return (
        f"WITH mh AS (SELECT * FROM {mh_source} AS _mhsrc), "
        "bk AS (SELECT doc_id, CAST(FLOOR(j / "
        f"{float(rows_per_band)!r}) AS BIGINT) AS band, "
        + "CONCAT_WS(',', "
        + ", ".join(
            f"CAST(MIN(CASE WHEN j % {rows_per_band} = {r} THEN mh END) AS STRING)"
            for r in range(rows_per_band)
        )
        + ") AS bucket FROM mh GROUP BY doc_id, CAST(FLOOR(j / "
        f"{float(rows_per_band)!r}) AS BIGINT)) "
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bk a "
        "JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"
    )


def _lsh_pairs_sql(minhash_sql: str) -> str:
    """_lsh_pairs_from over an inline minhash query."""
    return _lsh_pairs_from(f"({minhash_sql})")


Q_LSH_DUCK = _lsh_pairs_sql(Q_MINHASH_DUCK)


# per-(application, sf_dir) memo: .cache() alone is not enough because
# each call would build a NEW DataFrame (re-cached, recomputed) — the
# minhash/LSH/jaccard/similarity queries all share one materialization
_SIG_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached_df(spark: SparkSession, sf_dir: str, tag: str, sql: str, view: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    df = _SIG_CACHE.get(key)
    if df is None:
        load_tables(spark, sf_dir, ["documents"])
        df = spark.sql(sql).cache()
        _SIG_CACHE[key] = df
    df.createOrReplaceTempView(view)
    return df


def _cached_signatures(spark: SparkSession, sf_dir: str, view: str = "mh_sig"):
    """LONG minhash signatures (doc_id, j, mh), computed + cached ONCE
    per session/sf — Spark inlines (re-computes) CTEs per reference, so
    the minhash-similarity verify's two signature references would
    otherwise evaluate the shingle pipeline twice. Built from the
    no-DISTINCT shingle stream directly (round 7): the dedup shuffle
    the exact-Jaccard queries need is pure cost for MIN aggregation,
    and the codegen explode form made shingle recompute cheaper than
    sharing the cached distinct stream."""
    sig_sql = _minhash_sql_wide(spark_shingles_all(), _SPARK_X)
    return _cached_df(spark, sf_dir, "sig", sig_sql, view)


def _cached_signatures_wide(
    spark: SparkSession, sf_dir: str, view: str = "mh_sig_w"
):
    """WIDE md5 minhash signatures (one row per doc), cached once per
    session/sf — the shape every Spark-side band-bucket construction
    consumes since round 7 (1/16th the cached rows of the long form;
    the long ``mh_sig`` view remains for minhash_similarity, which
    compares signatures component by component)."""
    sig_sql = _minhash_sql_wide_noexplode(spark_shingles_all(), _SPARK_X)
    return _cached_df(spark, sf_dir, "sig_w", sig_sql, view)


def _cached_shingle_arrays(
    spark: SparkSession, sf_dir: str, view: str = "mh_shingle_arr"
):
    """Per-doc DISTINCT-shingle ARRAYS, cached — the exact-Jaccard
    verify references the array table twice (a/b sides), and an
    uncached CTE would re-run the grouped collect per reference
    (Spark inlines CTEs; measured as the remaining 2x cost in the
    verify, round 7)."""
    sql = (
        f"SELECT doc_id, collect_list(sh) AS shs FROM ({spark_shingles()}) s "
        "GROUP BY doc_id"
    )
    return _cached_df(spark, sf_dir, "shingle_arr", sql, view)


def _cached_pairs(spark: SparkSession, sf_dir: str, view: str = "mh_pairs"):
    """The salted LSH candidate-pair set, cached once per session/sf —
    tiny (one row per candidate pair) and consumed by the pair gate,
    the exact-Jaccard verify and the minhash-similarity verify."""
    _cached_signatures_wide(spark, sf_dir)
    return _cached_df(
        spark, sf_dir, "pairs", _lsh_pairs_from_salted_wide("mh_sig_w"), view
    )


def spark_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_pairs(spark, sf_dir)


def spark_lsh_pairs_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs over the FUSED hash-domain signatures
    (xxhash64 3-token windows, :func:`_fast_shingle_sig_wide_sql`) — the
    deployment-default fast path, benchmarked beside the md5 gate form
    (bench.py ``minhash_lsh_pairs_fused``). NOT oracle-gated, by
    necessity: DuckDB computes no xxhash64-compatible hash, and LSH
    band buckets are hash-family-DEPENDENT on borderline pairs (only
    identical docs collide family-independently), so no DuckDB SQL can
    replay this pair set. Correctness rides (a) the md5 gate — the
    identical banding construction over the portable hash family —
    and (b) the structural tests over the xxhash64 family
    (tests/test_neardup_removal.py). See PLANS.md round-6 note."""
    load_tables(spark, sf_dir, ["documents"])
    spark.sql("SELECT doc_id, text FROM documents").createOrReplaceTempView(
        "_fused_corpus"
    )
    return spark.sql(
        _lsh_pairs_from_salted_wide(
            "(" + _fast_shingle_sig_wide_sql("_fused_corpus") + ")"
        )
    )


def _jaccard_verify_sql(shingles_sql: str, pairs_sql: str) -> str:
    """Exact n-gram Jaccard computed ONLY for LSH candidate pairs —
    the dedup pipeline's verify stage over the FULL table: the shingle
    join is keyed by the (small) candidate pair set instead of
    self-joining every shared shingle (the scale path that replaces
    ngram_jaccard_pairs' doc_id<200 oracle slice)."""
    return (
        f"WITH s AS ({shingles_sql}), cand AS ({pairs_sql}), "
        "cnt AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id), "
        "inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS n_inter FROM cand c "
        "JOIN s a ON a.doc_id = c.a_id JOIN s b ON b.doc_id = c.b_id AND b.sh = a.sh "
        "GROUP BY c.a_id, c.b_id) "
        "SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard "
        "FROM inter JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id"
    )


def spark_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard restricted to the (cached) LSH candidate pairs.

    Spark-side shape (round 7): per-doc DISTINCT-shingle ARRAYS joined
    onto the pair set (two broadcast joins of a ~pair-count row set),
    intersection counted with ``array_intersect`` per pair — one
    grouped collect instead of the old shingle×shingle equi-join's
    4-5 exchanges. Values identical to the oracle's join form: both
    arrays are distinct by construction, so |array_intersect| is the
    shared-shingle count, and the final division sees the same
    integers (pairs sharing NO shingle are filtered, matching the
    inner join's row set)."""
    _cached_shingle_arrays(spark, sf_dir)
    _cached_pairs(spark, sf_dir)
    return spark.sql(
        "WITH arr AS (SELECT doc_id, shs FROM mh_shingle_arr) "
        "SELECT a_id, b_id, "
        "CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard FROM ("
        "SELECT c.a_id, c.b_id, "
        "size(array_intersect(x.shs, y.shs)) AS n_inter, "
        "size(x.shs) AS na, size(y.shs) AS nb "
        "FROM mh_pairs c JOIN arr x ON x.doc_id = c.a_id "
        "JOIN arr y ON y.doc_id = c.b_id) j WHERE n_inter > 0"
    )


Q_JACCARD_LSH_DUCK = _jaccard_verify_sql(
    duck_shingles(), _lsh_pairs_sql(Q_MINHASH_DUCK)
)


def _ranked_cluster_members(wide_source: str, docs: DataFrame) -> DataFrame:
    """The near-dup lineage from signatures to the keep/drop decision:
    star edges over the WIDE signature source ``wide_source`` →
    :func:`cc_two_phase` → every cluster member (node, label, n_chars)
    ranked by the keep-longest rule in ``_rn`` (max n_chars, min
    doc_id tie-break: when near-duplicates differ, the longest version
    usually carries the superset of content). ``_rn == 1`` is the
    member kept, the rest are dropped. ``docs`` supplies (doc_id,
    n_chars); docs outside any cluster never appear (singletons never
    enter the LSH edge graph)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    edges = docs.sparkSession.sql(_lsh_star_edges_wide_window(wide_source))
    labels = cc_two_phase(edges)
    member = labels.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    wo = Window.partitionBy("label").orderBy(
        F.col("n_chars").desc(), F.col("node").asc()
    )
    return member.withColumn("_rn", F.row_number().over(wo))


def spark_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the LSH
    star edges (the shipped removal lineage's edge builder) via
    alternating Large-Star/Small-Star (cc_two_phase) — O(log) rounds
    instead of O(component diameter), so pathological near-duplicate
    chains converge at corpus scale. Returns (doc_id, cluster_id = min
    doc id reachable); value-checked against the recursive-CTE oracle
    over the pairwise band join by the gate (a star spans the same
    component as the bucket clique)."""
    from pyspark.sql import functions as F

    _cached_signatures_wide(spark, sf_dir)
    edges = spark.sql(_lsh_star_edges_wide_window("mh_sig_w"))
    labels = cc_two_phase(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def spark_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster — the step
    that turns cluster labels into an actionable keep/drop decision
    for the corpus: keep the RICHEST member, drop the rest (the rule
    of :func:`_ranked_cluster_members`).

    Chains the shipped near-dup lineage over the md5 signatures:
    cached shingles → minhash → LSH star edges → Large-Star/Small-Star
    connected components → per-cluster window top-1. Returns
    (cluster_id, kept_doc_id, kept_n_chars, n_members) per
    multi-member cluster; docs outside any cluster are implicitly
    kept. At 100 TB every stage is a bounded shuffle: the window
    partitions by cluster label (cluster sizes are near-dup group
    sizes — small by construction after LSH thresholding)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    _cached_signatures_wide(spark, sf_dir)
    ranked = _ranked_cluster_members("mh_sig_w", spark.table("documents"))
    return (
        ranked.withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("label"))
        )
        .where(F.col("_rn") == 1)
        .select(
            F.col("label").alias("cluster_id"),
            F.col("node").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


def _dedup_keep_list_oracle() -> str:
    """Recursive-CTE clusters + window top-1 — the DuckDB value oracle
    for :func:`spark_dedup_keep_list`."""
    pairs = _lsh_pairs_sql(Q_MINHASH_DUCK)
    return (
        f"WITH RECURSIVE pairs AS ({pairs}), "
        "und AS (SELECT a_id AS u, b_id AS v FROM pairs "
        "UNION ALL SELECT b_id, a_id FROM pairs), "
        "reach(u, v) AS (SELECT u, v FROM und "
        "UNION SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u), "
        "labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id "
        "FROM reach GROUP BY u), "
        "j AS (SELECT l.cluster_id, l.doc_id, d.n_chars FROM labels l "
        "JOIN documents d ON d.doc_id = l.doc_id), "
        "r AS (SELECT cluster_id, doc_id, n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY n_chars DESC, doc_id ASC) AS rn, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS n_members FROM j) "
        "SELECT cluster_id, doc_id AS kept_doc_id, "
        "n_chars AS kept_n_chars, n_members "
        "FROM r WHERE rn = 1 ORDER BY cluster_id"
    )


def dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL form of the near-dup lineage: the documents table
    minus non-canonical duplicate-cluster members — i.e. an anti-join
    of the corpus against (cluster members \\ keep list). This is the
    DataFrame a downstream training-data pipeline consumes. Runs the
    lineage of :func:`neardup_drop_ids` over the md5 signatures (the
    one hash both engines compute), so the gate value-checks the
    shipped edge builder, CC and keep rule."""
    from pyspark.sql import functions as F

    _cached_signatures_wide(spark, sf_dir)
    docs = spark.table("documents")
    drop = (
        _ranked_cluster_members("mh_sig_w", docs)
        .where(F.col("_rn") > 1)
        .select(F.col("node").alias("doc_id"))
    )
    return docs.join(drop, "doc_id", "left_anti")


def spark_dedup_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate form of the REMOVAL lineage's end product: the documents
    table minus non-canonical duplicate-cluster members, every column
    value-checked against the recursive-CTE + window + anti-join
    oracle."""
    return (
        dedup_filtered_corpus(spark, sf_dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _dedup_filtered_oracle() -> str:
    pairs = _lsh_pairs_sql(Q_MINHASH_DUCK)
    return (
        f"WITH RECURSIVE pairs AS ({pairs}), "
        "und AS (SELECT a_id AS u, b_id AS v FROM pairs "
        "UNION ALL SELECT b_id, a_id FROM pairs), "
        "reach(u, v) AS (SELECT u, v FROM und "
        "UNION SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u), "
        "labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id "
        "FROM reach GROUP BY u), "
        "j AS (SELECT l.cluster_id, l.doc_id, d.n_chars FROM labels l "
        "JOIN documents d ON d.doc_id = l.doc_id), "
        "r AS (SELECT cluster_id, doc_id, "
        "ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY n_chars DESC, doc_id ASC) AS rn FROM j) "
        "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars "
        "FROM documents d WHERE d.doc_id NOT IN "
        "(SELECT doc_id FROM r WHERE rn > 1) ORDER BY d.doc_id"
    )


def _fast_shingle_sig_wide_sql(table: str) -> str:
    """WIDE form of the fused hash-domain signature: one row per doc
    with columns ``mh0..mh15`` — the natural shape for band-bucket
    construction (the long form re-aggregates by doc_id immediately,
    re-shuffling 16x the rows for nothing). The window hash explodes
    POSITIONS and evaluates ``xxhash64(ws[i], ws[i+1], ws[i+2])`` per
    exploded row (whole-stage codegen) instead of the interpreted
    ``transform(sequence(...), i -> ...)`` array build (round 7,
    guide §4.1) — identical hash multiset, identical MINs."""
    elems = ", ".join(f"ws[i + {k}]" for k in range(SHINGLE_W))
    mins = ", ".join(
        f"MIN(({A[j]} * x + {B[j]}) % {P}) AS mh{j}" for j in range(N_HASHES)
    )
    return (
        f"SELECT doc_id, {mins} FROM ("
        f"SELECT doc_id, pmod(xxhash64({elems}), {P}) AS x "
        f"FROM (SELECT doc_id, split(text, ' ') AS ws FROM {table} "
        f"WHERE size(split(text, ' ')) >= {SHINGLE_W}) t "
        f"LATERAL VIEW explode(sequence(0, size(ws) - {SHINGLE_W})) e AS i"
        f") hx GROUP BY doc_id"
    )


def _wide_band_rows(wide_source: str) -> str:
    """(doc_id, band, m0..m3) band rows from a WIDE signature source —
    one ``stack`` per row, NO re-aggregation, and the bucket stays a
    4-tuple of BIGINTs (numeric join/group keys) instead of a
    concatenated string. Tuple equality ≡ the string form's equality
    (',' is unambiguous between integers), so every pair/edge set is
    identical to the string-bucket construction of the DuckDB oracles
    (:func:`_lsh_pairs_from`)."""
    rows_per_band = N_HASHES // BANDS
    stack_args = ", ".join(
        f"CAST({b} AS BIGINT), "
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        for b in range(BANDS)
    )
    mcols = ", ".join(f"m{r}" for r in range(rows_per_band))
    return (
        f"SELECT doc_id, band, {mcols} FROM {wide_source} "
        f"LATERAL VIEW stack({BANDS}, {stack_args}) tb AS band, {mcols}"
    )


def _lsh_star_edges_wide_window(wide_source: str) -> str:
    """STAR edges per LSH band-bucket: every member connects to the
    bucket's MINIMUM doc id — O(bucket size) edges instead of the
    pairwise join's O(bucket size²), with IDENTICAL connected
    components (a star spans exactly the vertex set of the clique).
    The CC input of every near-dup cluster query; the pairwise form
    (:func:`_lsh_pairs_from_salted_wide`) serves only the queries whose
    OUTPUT is the candidate-pair set.

    The bucket minimum is a WINDOW min, so the signature source is
    referenced ONCE and the sig → band rows → bucket min → edges chain
    runs as a single lineage with one exchange and no join. No
    DISTINCT: cc_two_phase's first round-pair dedups (the same pair
    via two bands is harmless). Trade-off: a hot band-bucket (many
    identical docs) lands whole in ONE window task — linear work, so
    a straggler risk rather than a blow-up (ROADMAP 4(b))."""
    rows_per_band = N_HASHES // BANDS
    mcols = ", ".join(f"m{r}" for r in range(rows_per_band))
    return (
        f"SELECT a_id, b_id FROM ("
        f"SELECT MIN(doc_id) OVER (PARTITION BY band, {mcols}) AS a_id, "
        f"doc_id AS b_id FROM ({_wide_band_rows(wide_source)}) bk) e "
        f"WHERE b_id <> a_id"
    )


LSH_SALT = 8


def _lsh_pairs_from_salted_wide(wide_source: str) -> str:
    """Salted band-bucket pair join over a WIDE signature source: a hot
    LSH bucket with H members is a single join key whose pair work is
    H² in ONE task (AQE splits partitions, not keys). Salting the left
    side by hash(doc_id) % S and exploding the right side over all S
    salts splits that key into S sub-keys of H·H/S work each — same
    pair set as the unsalted DuckDB oracle (:func:`_lsh_pairs_from`,
    value-gated by ``minhash_lsh_pairs``)."""
    rows_per_band = N_HASHES // BANDS
    mcols = [f"m{r}" for r in range(rows_per_band)]
    on = " AND ".join(f"a.{c} = b.{c}" for c in ["band", *mcols, "sb"])
    return (
        f"WITH bk AS ({_wide_band_rows(wide_source)}), "
        f"ba AS (SELECT *, pmod(xxhash64(doc_id), {LSH_SALT}) AS sb FROM bk), "
        f"bb AS (SELECT bk.*, s AS sb FROM bk "
        f"LATERAL VIEW explode(sequence(0, {LSH_SALT - 1})) t AS s) "
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM ba a "
        f"JOIN bb b ON {on} AND a.doc_id < b.doc_id"
    )


# Version tag for the near-dup REMOVAL lineage's persisted artifacts
# (drop sets, filtered corpora). v1 = md5+string shingle family
# (rounds ≤ 4); v2 = xxhash64 hash-domain fused shingles (round 5+,
# the only family neardup_drop_ids runs). The two universal-hash
# families draw different cluster boundaries on borderline pairs
# (6364 vs 6370 drops on a 20 k-doc corpus), so drop sets produced
# under different versions must not be mixed — stamp this tag on any
# persisted drop set and refuse cross-version anti-joins.
NEARDUP_LINEAGE_VERSION = 2


def neardup_drop_ids(corpus: DataFrame) -> DataFrame:
    """DROP set — the doc_id of every NON-canonical duplicate-cluster
    member — for an arbitrary corpus DataFrame with columns
    (doc_id, text, n_chars): the reusable near-dup REMOVAL stage for
    composed pipelines (bench.py's e2e near-dup lineage over
    synthesized pages). Fused xxhash64 minhash signature
    (:func:`_fast_shingle_sig_wide_sql`) → per-band STAR edges
    (:func:`_lsh_star_edges_wide_window`) → Large-Star/Small-Star
    connected components → keep the longest member per cluster
    (:func:`_ranked_cluster_members`), drop the rest. The signature is
    consumed once and never cached: sig → edges runs as one job
    straight into cc_two_phase's first checkpoint.

    The hash-domain signature hashes each 3-token window directly via
    xxhash64 — no concatenated shingle string, no array_distinct, an
    int64 exploded stream: 59.1 s → 4.07 s (14.5×) on a 20 k-doc ×
    300-token corpus against the md5 + string form (PLANS.md round 5).
    The gate form :func:`dedup_filtered_corpus` runs this same lineage
    over md5 signatures, the only hash both engines compute
    identically. Both are (a·x+b) mod P universal families — same
    statistics, different tokens→ints map, so cluster boundaries can
    differ on borderline pairs (20 k-doc corpus: 6364 vs 6370
    drops)."""
    from pyspark.sql import functions as F

    corpus.select("doc_id", "text").createOrReplaceTempView("_nd_corpus")
    wide_sig = "(" + _fast_shingle_sig_wide_sql("_nd_corpus") + ")"
    return (
        _ranked_cluster_members(wide_sig, corpus)
        .where(F.col("_rn") > 1)
        .select(F.col("node").alias("doc_id"))
    )


def _is_star_fixpoint(df: DataFrame) -> bool:
    """True iff the edge set ``df`` (columns u, v) is stable under a
    Large-Star/Small-Star round: the edges form depth-1 stars oriented
    to their component minimum — (a) no node appears on both sides
    (no chains), (b) every u has a single distinct v (no multi-parent
    nodes), (c) every edge points down (v < u). (a)+(b) make each
    component exactly one star; (c) makes each root the component
    minimum; a min-rooted star set is a one_round fixpoint, and every
    fixpoint has this shape. ONE small aggregation job over the
    checkpointed edge set — replaces the confirming round-pair
    (~5 shuffles + checkpoint) the old signature-equality scheme
    needed after convergence (round 7, the BENCH/BASELINE.md
    F ≈ 20 s per-job fixed-cost analysis)."""
    from pyspark.sql import functions as F

    nodes = df.selectExpr(
        "u AS n", "true AS is_u", "false AS is_v", "v AS vv",
        "CAST(v >= u AS INT) AS badord",
    ).unionAll(
        # IF(false, v, NULL): a typed NULL matching the node-id column
        # (ids may be strings — test_cc_algorithms pins that)
        df.selectExpr(
            "v AS n", "false AS is_u", "true AS is_v",
            "IF(false, v, NULL) AS vv", "0 AS badord",
        )
    )
    row = (
        nodes.groupBy("n")
        .agg(
            F.max("is_u").alias("hu"),
            F.max("is_v").alias("hv"),
            F.min("vv").alias("vmin"),
            F.max("vv").alias("vmax"),
            F.max("badord").alias("bo"),
        )
        .selectExpr(
            "max(CASE WHEN hu AND hv THEN 1 ELSE 0 END) AS chain",
            "max(CASE WHEN hu AND vmin <> vmax THEN 1 ELSE 0 END) AS multi",
            "max(bo) AS badord",
        )
        .collect()[0]
    )
    return not any(((row.chain or 0), (row.multi or 0), (row.badord or 0)))


def cc_two_phase(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Connected components by alternating Large-Star / Small-Star
    (the classic MapReduce CC construction — public algorithm, see
    PAPERS.md): each round is two grouped aggregations + joins, and
    the edge set converges to per-component stars centered at the
    MINIMUM node id in O(log) rounds — vs O(component diameter) for
    min-label propagation, which makes long near-duplicate chains
    (diameter ≫ 20) feasible at corpus scale. Returns
    (node, label = min id in component).

    Large-Star(u): connect every strictly-larger neighbor of u to
    m = min(Γ(u) ∪ {u}). Small-Star(u): orient edges toward the
    smaller endpoint, connect every smaller neighbor (and u) to the
    minimum. Fixpoint is detected STRUCTURALLY after each checkpointed
    round-pair (:func:`_is_star_fixpoint` — one small aggregation job)
    instead of re-running a full round-pair until an order-independent
    signature repeats: the old scheme paid ~5 shuffles + a checkpoint
    to confirm a set it had already produced, which was most of the
    loop's fixed cost at small inputs (BENCH/BASELINE.md F ≈ 20 s
    analysis; the final label set is identical — both stop at the same
    deterministic fixpoint). Exhaustion raises loudly."""
    from pyspark.sql import functions as F

    def one_round(df, dedup: bool = True):
        """Large-Star then Small-Star as a LAZY plan over ``df``,
        written so that every intermediate is referenced EXACTLY ONCE
        (round 7). The textbook groupBy-min + join formulation
        references each stream 2-3x (self-union, agg+join diamonds);
        DataFrame re-reference copies the logical subtree, so two
        fused rounds compounded to a ~400-operator / 118-Exchange
        plan whose Catalyst planning + per-stage AQE re-optimization
        dominated the round's 8.8 s wall at 482k edges (execution
        itself reuses exchanges; PLANNING doesn't dedup). Here:

        - the symmetric closure is one ``inline`` explode, not a
          self-union;
        - each star's per-node minimum is a WINDOW MIN instead of a
          grouped-min joined back (same exchange count, one
          reference);
        - Small-Star's (root -> min) rows are emitted per input row
          via ``inline`` (the set is unchanged; the extra multiplicity
          is swallowed by the trailing DISTINCT, so ``dedup=False`` —
          used for the inner round of a fused pair — just defers it).

        Output SET identical to the classic formulation: Large-Star
        emits {(v, m_u) : (u,v) ∈ sym, v > u, v ≠ m_u} with
        m_u = min(Γ(u) ∪ {u}); Small-Star over the down-oriented
        edges emits {(v, m_u) : v ≠ m_u} ∪ {(u, m_u)} per group —
        per-row emission produces exactly these elements (with
        repeats), never new ones."""
        from pyspark.sql.window import Window

        w_u = Window.partitionBy("u")
        sym = df.selectExpr(
            "inline(array(named_struct('u', u, 'v', v), "
            "named_struct('u', v, 'v', u)))"
        )
        large = (
            sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
            .where("v > u AND v <> m")
            .selectExpr("v AS u", "m AS v")
        )
        o = large.selectExpr(
            "greatest(u, v) AS u", "least(u, v) AS v"
        ).where("u <> v")
        out = (
            o.withColumn("m", F.min("v").over(w_u))
            .selectExpr(
                # (v, m) for non-root members + (u, m) for the root —
                # the root row repeats per group row; DISTINCT dedups
                "inline(CASE WHEN v <> m THEN "
                "array(named_struct('u', v, 'v', m), "
                "named_struct('u', u, 'v', m)) "
                "ELSE array(named_struct('u', u, 'v', m)) END)"
            )
            .where("u <> v")
        )
        return out.distinct() if dedup else out

    # NO initial distinct (round 7): the rounds are set-preserving over
    # multisets and the first round-pair ends in its own DISTINCT, so
    # deduping the input edge stream here was one full exchange whose
    # work the first round re-did anyway (the star-edge SQL therefore
    # also emits duplicates freely — e.g. the same pair via two bands).
    cur = (
        edges.selectExpr("a_id AS u", "b_id AS v")
        .where("u <> v")
        .localCheckpoint(eager=True)
    )
    # TWO Large/Small rounds fuse into one checkpoint job: per-job
    # fixed cost (driver planning, codegen, job latency, checkpoint
    # commit) is what bounds small-input scaling (BENCH/BASELINE.md
    # round-4 F ≈ 15-30 s analysis), and the star set shrinks
    # monotonically so convergence detection at stride 2 costs at most
    # one extra (tiny, converged) round of work.
    # No fixpoint check on the INPUT: both edge sources orient pairs
    # upward (a_id < b_id / bucket-min first), and a fixpoint requires
    # downward edges (v < u), so the input check could never pass —
    # it would be one wasted job per call.
    converged = False
    for _rnd in range(0, max_rounds, 2):
        cur = one_round(one_round(cur, dedup=False)).localCheckpoint(eager=True)
        if _is_star_fixpoint(cur):
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"cc_two_phase did not reach a fixpoint in {max_rounds} rounds"
        )
    # fixpoint: every edge is (node, component-min) with UNIQUE u
    # (fixpoint condition (b)), so only the root self-labels need a
    # distinct — over ~n_clusters rows, not the whole label set
    roots = cur.selectExpr("v AS node", "v AS label").distinct()
    return cur.selectExpr("u AS node", "v AS label").unionAll(roots)


def _dedup_clusters_oracle() -> str:
    pairs = _lsh_pairs_sql(Q_MINHASH_DUCK)
    return (
        f"WITH RECURSIVE pairs AS ({pairs}), "
        "und AS (SELECT a_id AS u, b_id AS v FROM pairs "
        "UNION ALL SELECT b_id, a_id FROM pairs), "
        "reach(u, v) AS (SELECT u, v FROM und "
        "UNION SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u) "
        "SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id "
        "FROM reach GROUP BY u ORDER BY doc_id"
    )


def _unigrams(spark_side: bool, extra: str = "") -> str:
    if spark_side:
        return (
            "SELECT doc_id, sh FROM (SELECT doc_id, split(text, ' ') AS ws "
            f"FROM documents WHERE size(split(text, ' ')) >= 1 {extra}) t "
            "LATERAL VIEW explode(ws) ew AS sh"
        )
    return (
        "SELECT doc_id, unnest(ws) AS sh FROM (SELECT doc_id, "
        f"string_split(text, ' ') AS ws FROM documents WHERE "
        f"len(string_split(text, ' ')) >= 1 {extra}) t"
    )


def _simhash_sql(tokens_sql: str, x_expr: str, explode_k: str) -> str:
    return (
        f"WITH tok AS ({tokens_sql}), "
        f"hx AS (SELECT doc_id, {x_expr} AS x FROM tok), "
        f"bits AS (SELECT doc_id, k, SUM(CASE WHEN "
        "CAST(FLOOR(x / POW(2.0, k)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS w "
        f"FROM (SELECT doc_id, x, k FROM hx {explode_k}) e GROUP BY doc_id, k) "
        "SELECT doc_id, CAST(SUM(CASE WHEN w > 0 THEN "
        "CAST(POW(2.0, k) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash "
        "FROM bits GROUP BY doc_id"
    )


_SPARK_EXPLODE_K = f"LATERAL VIEW explode(sequence(0, {SIMHASH_BITS - 1})) tk AS k"
_DUCK_EXPLODE_K = (
    f"CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS k) ks"
)

Q_SIMHASH_SPARK = _simhash_sql(_unigrams(True), _SPARK_X, _SPARK_EXPLODE_K)
Q_SIMHASH_DUCK = _simhash_sql(_unigrams(False), _DUCK_X, _DUCK_EXPLODE_K)


# --- streaming near-dup admission: batch replay vs sequential oracle ----
# Round-5 gate (VERDICT r4 item 3): the streaming admission filter was
# the only headline feature without a VALUE oracle. The Spark side
# replays K deterministic micro-batches (doc_id % K) through the REAL
# per-batch fold (streaming/dedup_stream.admission_batch — the same
# function foreachBatch drives — against a fresh BucketedVersionTable);
# the oracle is the K-step sequential fold unrolled as a DuckDB CTE
# chain over the same band buckets. Output: (doc_id, batch) of every
# admitted document.

ADMISSION_BATCHES = 3
# the admission universe: docs that produce shingles (same predicate as
# the shingle SQL) — a shingle-less doc has no band keys and is
# trivially admitted; excluded so both engines fold the same universe
_ADMISSION_UNIVERSE_SPARK = f"size(split(text, ' ')) >= {SHINGLE_W}"
_ADMISSION_UNIVERSE_DUCK = f"len(string_split(text, ' ')) >= {SHINGLE_W}"


def _band_bkey_sql(mh_source: str) -> str:
    """(doc_id, bkey) band buckets — the oracle-side mirror of
    streaming/dedup_stream.batch_band_buckets (same band layout; mh
    values are engine-equal, pinned by the minhash_signatures gate)."""
    rows_per_band = N_HASHES // BANDS
    bucket_cols = ", ".join(
        f"CAST(MIN(CASE WHEN j % {rows_per_band} = {r} THEN mh END) AS STRING)"
        for r in range(rows_per_band)
    )
    return (
        f"SELECT doc_id, CONCAT_WS(':', CAST(band AS STRING), bucket) AS bkey "
        f"FROM (SELECT doc_id, "
        f"CAST(FLOOR(j / {float(rows_per_band)!r}) AS BIGINT) AS band, "
        f"CONCAT_WS(',', {bucket_cols}) AS bucket FROM {mh_source} "
        f"GROUP BY doc_id, CAST(FLOOR(j / {float(rows_per_band)!r}) AS BIGINT)) b"
    )


def spark_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import tempfile

    from pyspark.sql import functions as F

    from spinix_spark.streaming.dedup_stream import admission_batch
    from spinix_spark.streaming.state_table import BucketedVersionTable

    load_tables(spark, sf_dir, ["documents"])
    docs = (
        spark.table("documents")
        .where(F.expr(_ADMISSION_UNIVERSE_SPARK))
        .select("doc_id", "text")
    )
    work = tempfile.mkdtemp(prefix="stream-admission-gate-")
    table = BucketedVersionTable(
        spark, posixpath.join(work, "buckets"), key_col="bkey", n_buckets=32
    )
    outs = []
    for k in range(ADMISSION_BATCHES):
        batch = docs.where(F.col("doc_id") % ADMISSION_BATCHES == k)
        admitted = admission_batch(batch, table, k)
        outs.append(
            admitted.select("doc_id").withColumn(
                "batch", F.lit(k).cast("long")
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _stream_admission_oracle(k_batches: int = ADMISSION_BATCHES) -> str:
    """The sequential admission fold unrolled: batch k's drops are
    (a) any band key admitted in batches < k, (b) a smaller doc_id on
    the same key within batch k (non-chaining — the claimant may
    itself be history-dropped, the bucket is still claimed)."""
    mh = Q_MINHASH_DUCK.replace(
        duck_shingles(), duck_shingles(f"AND {_ADMISSION_UNIVERSE_DUCK}")
    )
    parts = [f"bk AS ({_band_bkey_sql(f'({mh})')})"]
    sel = []
    hist_prev = None
    for k in range(k_batches):
        parts.append(
            f"bk{k} AS (SELECT * FROM bk WHERE doc_id % {k_batches} = {k})"
        )
        batch_min_drop = (
            f"SELECT DISTINCT b.doc_id FROM bk{k} b WHERE EXISTS "
            f"(SELECT 1 FROM bk{k} m WHERE m.bkey = b.bkey"
            f" AND m.doc_id < b.doc_id)"
        )
        if hist_prev is None:
            drop = batch_min_drop
        else:
            drop = (
                f"SELECT DISTINCT doc_id FROM bk{k} WHERE bkey IN "
                f"(SELECT bkey FROM {hist_prev}) UNION {batch_min_drop}"
            )
        parts.append(f"drop{k} AS ({drop})")
        parts.append(
            f"adm{k} AS (SELECT DISTINCT doc_id FROM bk{k} WHERE doc_id "
            f"NOT IN (SELECT doc_id FROM drop{k}))"
        )
        new_hist = (
            f"SELECT DISTINCT bkey FROM bk{k} WHERE doc_id IN "
            f"(SELECT doc_id FROM adm{k})"
        )
        if hist_prev is None:
            parts.append(f"hist{k} AS ({new_hist})")
        else:
            parts.append(
                f"hist{k} AS (SELECT bkey FROM {hist_prev} UNION {new_hist})"
            )
        hist_prev = f"hist{k}"
        sel.append(
            f"SELECT doc_id, CAST({k} AS BIGINT) AS batch FROM adm{k}"
        )
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(sel)


TEXT_QUERIES: dict[str, tuple] = {
    "stream_neardup_admission": (
        spark_stream_admission,
        _stream_admission_oracle(),
    ),
    "dedup_exact": _shared(Q_DEDUP_EXACT),
    "doc_fingerprint": _shared(Q_FINGERPRINT),
    "rolling_fingerprint": _split(Q_ROLLHASH_SPARK, Q_ROLLHASH_DUCK),
    "token_count": _shared(Q_TOKEN_COUNT),
    "quality_score": _shared(Q_QUALITY),
    "lang_id": _shared(Q_LANG_ID),
    "ngram_jaccard_pairs": _split(Q_JACCARD_SPARK, Q_JACCARD_DUCK),
    "ngram_jaccard_lsh": (spark_jaccard_lsh, Q_JACCARD_LSH_DUCK),
    "dedup_clusters": (spark_dedup_clusters, _dedup_clusters_oracle()),
    "dedup_keep_list": (spark_dedup_keep_list, _dedup_keep_list_oracle()),
    "dedup_filtered": (spark_dedup_filtered, _dedup_filtered_oracle()),
    "minhash_signatures": _split(Q_MINHASH_SPARK, Q_MINHASH_DUCK),
    "minhash_lsh_pairs": (spark_lsh_pairs, Q_LSH_DUCK),
    "simhash": _split(Q_SIMHASH_SPARK, Q_SIMHASH_DUCK),
}
