"""Analytics extensions: sessionization, exact percentiles, regex
tokenization, MinHash similarity verification.

These round out the large-scale training-data pipeline surface beyond
the reference's operator set (the reference has no aggregations at
all — SURVEY.md §2C): gap-based sessions over the events stream table,
exact grouped percentiles, a BPE-ish regex tokenizer, and the
verify-candidates stage of the MinHash/LSH dedup pipeline.

Cross-engine notes (verified empirically):
- Spark ``session_window(ts, gap)`` ≡ the LAG/island formulation in
  DuckDB (session breaks when the gap is ≥ timeout) — bit-identical
  session counts.
- Spark ``percentile`` (exact, linear interpolation) ≡ DuckDB
  ``quantile_cont`` on the same doubles.
- The token regex sticks to RE2∩Java-compatible constructs, so
  ``regexp_extract_all`` counts agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spinix_spark.io.derive import load_tables
from spinix_spark.queries_text import (
    N_HASHES,
    Q_MINHASH_DUCK,
    _lsh_pairs_sql,
)

SESSION_GAP_S = 300


def _mk(spark_sql: str, duck_sql: str, tables=("events",)):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        load_tables(spark, sf_dir, list(tables))
        return spark.sql(spark_sql)

    return fn, duck_sql


# --- sessionization ------------------------------------------------------

Q_SESS_SPARK = (
    "SELECT user_id, COUNT(*) AS n_sessions, SUM(n) AS n_events FROM ("
    " SELECT user_id, session_window(ts, '5 minutes') AS w, COUNT(*) AS n"
    " FROM events GROUP BY user_id, session_window(ts, '5 minutes')) g "
    "GROUP BY user_id"
)
Q_SESS_DUCK = (
    "WITH o AS (SELECT user_id, ts, "
    "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
    "m AS (SELECT user_id, CASE WHEN prev IS NULL OR "
    f"epoch(ts - prev) >= {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_s FROM o) "
    "SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, "
    "COUNT(*) AS n_events FROM m GROUP BY user_id"
)

# --- exact grouped percentiles ------------------------------------------

Q_PCT_SPARK = (
    "SELECT event_type, percentile(value, 0.5) AS p50, "
    "percentile(value, 0.9) AS p90, COUNT(*) AS n "
    "FROM events GROUP BY event_type"
)
Q_PCT_DUCK = (
    "SELECT event_type, quantile_cont(value, 0.5) AS p50, "
    "quantile_cont(value, 0.9) AS p90, COUNT(*) AS n "
    "FROM events GROUP BY event_type"
)

# --- BPE-ish regex tokenizer --------------------------------------------

_TOK_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
Q_TOK_SPARK = (
    f"SELECT doc_id, size(regexp_extract_all(text, '{_TOK_PAT}', 0)) AS n_regex_tokens "
    "FROM documents"
)
Q_TOK_DUCK = (
    f"SELECT doc_id, len(regexp_extract_all(text, '{_TOK_PAT}')) AS n_regex_tokens "
    "FROM documents"
)

# --- MinHash similarity verification ------------------------------------
# verify stage of the dedup pipeline: for every LSH candidate pair,
# the estimated Jaccard = fraction of agreeing minhash components


def _mh_sim_from(sig_source: str, pairs_sql: str) -> str:
    return (
        f"WITH sig AS (SELECT * FROM {sig_source}), cand AS ({pairs_sql}) "
        "SELECT c.a_id, c.b_id, "
        f"CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / {N_HASHES}.0 "
        "AS est_jaccard "
        "FROM cand c "
        "JOIN sig sa ON sa.doc_id = c.a_id "
        "JOIN sig sb ON sb.doc_id = c.b_id AND sb.j = sa.j "
        "GROUP BY c.a_id, c.b_id"
    )


Q_MH_SIM_DUCK = _mh_sim_from(f"({Q_MINHASH_DUCK})", _lsh_pairs_sql(Q_MINHASH_DUCK))


def spark_mh_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify stage over cached signatures (Spark inlines CTEs per
    reference; the cache avoids recomputing the shingle pipeline for
    each of the two signature references).
    Candidates are the cached salted pair set ``mh_pairs`` — the pair
    set the ``minhash_lsh_pairs`` gate pins against the same oracle
    pairs this query's oracle uses."""
    from spinix_spark.queries_text import _cached_pairs, _cached_signatures

    _cached_signatures(spark, sf_dir)
    _cached_pairs(spark, sf_dir)
    return spark.sql(_mh_sim_from("mh_sig", "SELECT a_id, b_id FROM mh_pairs"))


# hypertable-style time-bucket rollup (continuous-aggregate shape):
# map-side partial agg → one shuffle on (bucket, type); incremental
# refresh = re-running only the chunks whose manifests are invalidated
# (run/checkpoint.py)
Q_TIME_BUCKET = (
    "SELECT date_trunc('hour', ts) AS bucket, event_type, "
    # decimal SUM for order-independence, DOUBLE result for identical
    # cross-engine rendering (Spark/DuckDB result-decimal scales differ)
    "COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total_value "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)


# The 100 TB variant of grouped_percentiles: exact `percentile`
# buffers every group's values (required for oracle equality, fine
# when groups fit in memory); `approx_percentile` is the single-pass
# bounded-memory sketch a 10^12-row pipeline uses. Not registered as
# a gate query — approximate output is not value-hash-matchable by
# construction; accuracy is bounded against the exact form in
# tests/test_percentiles_approx.py.
PCT_APPROX_ACCURACY = 10_000
Q_PCT_APPROX_SPARK = (
    f"SELECT event_type, approx_percentile(value, 0.5, {PCT_APPROX_ACCURACY}) AS p50, "
    f"approx_percentile(value, 0.9, {PCT_APPROX_ACCURACY}) AS p90, COUNT(*) AS n "
    "FROM events GROUP BY event_type"
)


def grouped_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based grouped percentiles — same shape as the exact
    `grouped_percentiles` gate query, scale-safe memory profile."""
    load_tables(spark, sf_dir, ["events"])
    return spark.sql(Q_PCT_APPROX_SPARK)


ANALYTICS_QUERIES: dict[str, tuple] = {
    "time_bucket_rollup": _mk(Q_TIME_BUCKET, Q_TIME_BUCKET),
    "sessionize": _mk(Q_SESS_SPARK, Q_SESS_DUCK),
    "grouped_percentiles": _mk(Q_PCT_SPARK, Q_PCT_DUCK),
    "regex_token_count": _mk(Q_TOK_SPARK, Q_TOK_DUCK, tables=("documents",)),
    "minhash_similarity": (spark_mh_similarity, Q_MH_SIM_DUCK),
}
