"""Regenerate the committed golden parquets used as DuckDB oracles for
queries whose Spark-side arithmetic (xxhash64) DuckDB cannot reproduce.

Goldens are legitimate oracles here because the inputs are fixed
(driver-generated sf0.01 parquet / seeded synth_media) and the operators
are fully deterministic: the golden pins the output once, and any later
regression in the operator shows up as a hash mismatch against it.

Run from the repo root:  python tools/make_goldens.py
"""

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

GOLDEN_DIR = os.path.join(_REPO, "data", "golden")
SF001 = "/root/testdata/sf0.01"

# All scale factors the robustness sweep runs at. The document-derived
# goldens carry one slice per SF, dispatched by corpus_chars =
# sum(n_chars) of the live `documents` view (doc COUNTS collide between
# sf0.001 and sf0.01 — both 500 rows with identical doc_ids but
# different texts — while total chars is distinct at every SF).
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    from stash_log_parser_spark.session import build_session

    spark = build_session(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(GOLDEN_DIR, exist_ok=True)

    from pyspark.sql import functions as F

    from stash_log_parser_spark.operators.dedup import simhash, simhash_near_pairs
    from stash_log_parser_spark.operators.mixture import pack_sequences_greedy
    from stash_log_parser_spark.operators.multimodal import extract_features, synth_media

    per_sf = {
        "docs_simhash.parquet": lambda d: simhash(d),
        "corpus_pack_greedy.parquet": lambda d: pack_sequences_greedy(
            d, budget=4096, len_col="n_chars"
        ),
        "docs_simhash_pairs.parquet": lambda d: simhash_near_pairs(d, max_hamming=4),
    }
    for fname, fn in per_sf.items():
        parts = []
        for sf_dir in SF_DIRS:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            key = docs.agg(F.sum("n_chars").cast("long")).collect()[0][0]
            parts.append(fn(docs).withColumn("corpus_chars", F.lit(key).cast("long")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        (
            out.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(GOLDEN_DIR, fname))
        )

    # use_real_decoder=False: the golden must not depend on whether the
    # generating machine has Pillow installed
    feats = extract_features(
        synth_media(spark, n=60, seed=42), use_real_decoder=False
    ).select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.get("feature", 0).cast("double"), 3).alias("f0"),
        "thumb_w",
        "thumb_h",
    )
    (
        feats.orderBy("media_id")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(GOLDEN_DIR, "media_features.parquet"))
    )

    from stash_log_parser_spark.operators.multimodal import resize_media

    resized = resize_media(synth_media(spark, n=60, seed=42), target=(8, 8)).select(
        "media_id",
        "kind",
        F.md5("payload").alias("payload_md5"),
        "width",
        "height",
        "n_bytes",
    )
    (
        resized.orderBy("media_id")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(GOLDEN_DIR, "media_resize.parquet"))
    )

    # metadata-only pin of the synthetic media table (numpy-seeded, not
    # reproducible in SQL): the frame-sampling oracle recomputes the
    # sampled indices from these pinned (media_id, kind, n_frames) rows.
    (
        synth_media(spark, n=60, seed=42)
        .select("media_id", "kind", "width", "height", "n_frames")
        .orderBy("media_id")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(GOLDEN_DIR, "media_meta.parquet"))
    )
    print("goldens written under", GOLDEN_DIR)
    spark.stop()


if __name__ == "__main__":
    main()
