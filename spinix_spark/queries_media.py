"""Gate queries for the multimodal plumbing and corpus rollups.

``media_features`` drives the REAL multimodal path end to end —
documents' text bytes become opaque binary payloads, cross the Arrow
boundary into the mapInPandas feature stage (multimodal.py), and the
Python-computed byte counts come back out — verified against a plain
SQL oracle (the sha1-derived feature/hash columns stay pytest-pinned:
DuckDB has no sha1). The rollups are single-shuffle corpus statistics
a training pipeline reports at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.io.derive import load_tables


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary media table → Arrow/mapInPandas feature
    extraction (deterministic fake decoder) → per-item byte counts."""
    from spinix_spark.multimodal import extract_features, media_from_documents

    load_tables(spark, sf_dir, ["documents"])
    media = media_from_documents(spark.table("documents"))
    feats = extract_features(media)
    return feats.select("media_id", "kind", "n_bytes").orderBy("media_id")


def media_frame_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the 1→N-explode mapInPandas stage
    (multimodal.sample_frames, fake decoder): per media, the frame
    count, timestamp sum and total frame bytes. Frame payloads are
    20-byte sha1 digests, so the byte totals are value-checkable in
    plain SQL while the content hashes stay pytest-pinned."""
    from spinix_spark.multimodal import media_from_documents, sample_frames

    load_tables(spark, sf_dir, ["documents"])
    media = media_from_documents(spark.table("documents"))
    frames = sample_frames(media, n_frames=4)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("ts_ms").alias("ts_ms_sum"),
            F.sum(F.octet_length("frame")).alias("frame_bytes"),
        )
        .orderBy("media_id")
    )


MEDIA_FRAME_ROLLUP_ORACLE = (
    "SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id, "
    "CAST(4 AS BIGINT) AS n_frames, CAST(6000 AS BIGINT) AS ts_ms_sum, "
    "CAST(80 AS BIGINT) AS frame_bytes "
    "FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id"
)


def media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (multimodal.resize_images, fake path):
    kind routing (images only), target dims, and the deterministic
    output payload size ('resized:64x64:' tag + 20-byte digest)."""
    from spinix_spark.multimodal import media_from_documents, resize_images

    load_tables(spark, sf_dir, ["documents"])
    media = media_from_documents(spark.table("documents"))
    resized = resize_images(media, 64, 64)
    return resized.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
    ).orderBy("media_id")


MEDIA_RESIZE_ORACLE = (
    "SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id, "
    "CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height, "
    f"CAST({len('resized:64x64:') + 20} AS BIGINT) AS n_bytes "
    "FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id"
)


MEDIA_FEATURES_ORACLE = (
    "SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS kind, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes "
    "FROM documents ORDER BY media_id"
)

# global top-k tokens (count desc, token asc tie-break) — the
# wordcount-shaped corpus statistic: explode → partial agg → one
# shuffle → top-k
TOPK = 20
Q_TOKEN_TOPK_SPARK = (
    "SELECT tok, COUNT(*) AS n FROM (SELECT explode(split(text, ' ')) AS tok "
    "FROM documents) t GROUP BY tok "
    f"ORDER BY n DESC, tok LIMIT {TOPK}"
)
Q_TOKEN_TOPK_DUCK = (
    "SELECT tok, COUNT(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS tok "
    "FROM documents) t GROUP BY tok "
    f"ORDER BY n DESC, tok LIMIT {TOPK}"
)

# the preprocessing funnel: per-stage survivor counts for the standard
# training-data pipeline (dedup -> quality -> language) — one scan,
# conditional aggregation, no shuffle beyond the final fold
Q_FUNNEL = (
    "SELECT COUNT(*) AS n_total, "
    "CAST(SUM(CASE WHEN keep_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup, "
    "CAST(SUM(CASE WHEN keep_dedup AND keep_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality, "
    "CAST(SUM(CASE WHEN keep_dedup AND keep_quality AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang "
    "FROM ("
    "SELECT lang, "
    "doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_dedup, "
    "((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1) >= 20 "
    "AND ((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1) <= 1000 AS keep_quality "
    "FROM documents) f"
)

# per-(source, lang) corpus rollup
Q_CORPUS_ROLLUP = (
    "SELECT source, lang, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "CAST(MAX(n_chars) AS BIGINT) AS max_chars "
    "FROM documents GROUP BY source, lang"
)


def _shared(sql: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, ["documents"])
        return spark.sql(sql)

    return fn, sql


MEDIA_QUERIES: dict[str, tuple] = {
    "media_features": (media_features, MEDIA_FEATURES_ORACLE),
    "media_frame_rollup": (media_frame_rollup, MEDIA_FRAME_ROLLUP_ORACLE),
    "media_resize_stats": (media_resize_stats, MEDIA_RESIZE_ORACLE),
    "token_topk": (
        _shared(Q_TOKEN_TOPK_SPARK)[0],
        Q_TOKEN_TOPK_DUCK,
    ),
    "corpus_rollup": _shared(Q_CORPUS_ROLLUP),
    "corpus_filter_funnel": _shared(Q_FUNNEL),
}
