"""MinHash hot-bucket cap: a degenerate bucket must yield at most C(cap,2)
pairs (the r1 watch item — unbounded collect_list on a hot bucket)."""

from __future__ import annotations

from apache_flink_spark.queries import QUERIES
from apache_flink_spark.queries.pipeline_dedup import _BUCKET_CAP


def test_hot_bucket_pairs_are_capped(spark, tmp_path):
    # 70 byte-identical docs -> identical signatures -> one bucket per band
    # holding all 70 docs. Uncapped: C(70,2)=2415 pairs; capped at 64: 2016.
    n = _BUCKET_CAP + 6
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(n)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # a fresh session: its fixture tables are this test's documents
    pairs = QUERIES["dedup_minhash_lsh"](
        spark.newSession(), str(tmp_path)
    ).collect()
    cap = _BUCKET_CAP
    assert len(pairs) == cap * (cap - 1) // 2
    # The kept members are the cap SMALLEST doc_ids — deterministic rule.
    assert max(max(r.doc_a, r.doc_b) for r in pairs) == cap - 1
