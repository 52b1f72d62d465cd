"""End-to-end training-data pipeline composition: the operators chained
the way a real 100-TB curation job would chain them.

The text pipeline: dedup → quality filter → language ID → fingerprint.
"""

import pytest
from pyspark.sql import functions as F

from vamana_spark.operators import dedup, text


def test_text_curation_pipeline(spark, documents):
    deduped = dedup.exact_dedup(documents)
    scored = text.quality_score(deduped)
    kept = scored.where(F.col("quality_score") >= 0.6).select("doc_id")
    langs = text.language_id(documents).join(kept, "doc_id")
    fps = text.fingerprint(documents).join(kept, "doc_id")

    n_in = documents.count()
    n_dedup = deduped.count()
    n_kept = kept.count()
    assert n_in >= n_dedup >= n_kept > 0

    out = langs.join(fps, "doc_id")
    rows = out.collect()
    assert len(rows) == n_kept
    assert all(r.pred_lang and len(r.fingerprint) == 32 for r in rows)


def test_cli_clean_ppl_band_keeps_short_docs(spark, tmp_path, capsys):
    """r5 ADVICE: --ppl-band must not silently drop docs with <2 tokens
    (they carry no bigram score); they pass through unfiltered."""
    import json

    from vamana_spark.__main__ import main

    src = str(tmp_path / "ppl_in")
    dst = str(tmp_path / "ppl_out")
    rows = [
        (1, "word"),                               # 1 token: unscorable
        (2, "a normal document with several plain words in it"),
        (3, "a normal document with several plain words in it too"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    rc = main(["clean", "--input", src, "--output", dst,
               "--ppl-band", "0:1e18"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["output_rows"] == 3  # the 1-token doc survived
    kept = {r.doc_id for r in spark.read.parquet(dst).collect()}
    assert 1 in kept


def test_cli_search_text_bm25(spark, tmp_path, capsys):
    """search-text ranks by BM25 over the given terms: the term-dense
    doc wins, non-matching docs never appear, parquet output matches
    the printed top list."""
    import json

    from vamana_spark.__main__ import main

    src = str(tmp_path / "bm_in")
    dst = str(tmp_path / "bm_out")
    rows = [
        (1, "cat cat cat dog"),
        (2, "cat bird bird bird bird bird bird bird"),
        (3, "fish fish fish fish"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    rc = main(["search-text", "--input", src, "--terms", "CAT",
               "--output", dst, "--top-n", "5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["terms"] == ["cat"]
    assert [r["doc_id"] for r in out["top"]] == [1, 2]
    stored = {(r.doc_id, r.bm25) for r in spark.read.parquet(dst).collect()}
    assert stored == {(r["doc_id"], r["bm25"]) for r in out["top"]}


def test_cli_sample_temperature(spark, tmp_path, capsys):
    """sample --temperature derives per-source keep-rates from observed
    counts (n_i^(tau-1) scaled so the smallest source keeps all)."""
    import json

    from vamana_spark.__main__ import main

    src = str(tmp_path / "tm_in")
    dst = str(tmp_path / "tm_out")
    rows = [(i, "big" if i < 90 else "small", f"doc {i}") for i in range(100)]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(src)
    rc = main(["sample", "--input", src, "--output", dst,
               "--temperature", "0.5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = spark.read.parquet(dst)
    by = {r["source"]: r["n"]
          for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by.get("small") == 10          # smallest source keeps every row
    assert 0 < by.get("big", 0) < 90      # big source is downsampled
    assert out["sample_rows"] == kept.count()
    # --n still required for the other modes
    with pytest.raises(SystemExit):
        main(["sample", "--input", src, "--output", dst])
    # conflicting modes are rejected, not silently overridden
    with pytest.raises(SystemExit):
        main(["sample", "--input", src, "--output", dst,
              "--temperature", "0.5", "--n", "10"])


def test_cli_dedup_incremental(spark, tmp_path, capsys):
    """dedup --mode incremental drops batch rows already in --against
    (exact semantics: digest semi-join + text anti-join) and keeps the
    rest."""
    import json

    from vamana_spark.__main__ import main

    corpus = str(tmp_path / "inc_corpus")
    batch = str(tmp_path / "inc_batch")
    dst = str(tmp_path / "inc_out")
    spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(40)], "doc_id long, text string"
    ).write.parquet(corpus)
    spark.createDataFrame(
        [(100 + i, f"fresh doc {i}") for i in range(10)]
        + [(200 + i, f"corpus doc {i}") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(batch)
    rc = main(["dedup", "--input", batch, "--output", dst,
               "--mode", "incremental", "--against", corpus])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["output_rows"] == 10
    kept = {r.doc_id for r in spark.read.parquet(dst).collect()}
    assert kept == {100 + i for i in range(10)}


def test_cli_pbuild_calibrate_persists_profile_pack(spark, tmp_path, capsys):
    """ADVICE r9: `pbuild --calibrate --pack pq:M:KSUB` must persist the
    pack the PROFILE chooses (m, strategy) at the spec's KSUB — not the
    literal CLI combo — so a serving restart's default `psearch --pq`
    (which follows the profile) finds the saved pack instead of
    silently re-training/re-packing. Also: the 'pq:M:KSUB:pershard'
    spec form parses, so a per-shard recommendation is expressible."""
    import json

    import numpy as np
    import pandas as pd

    from vamana_spark.__main__ import _parse_packs, main
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    assert _parse_packs(["pq:8:64:pershard"]) == (("pq", 8, 64, True),)

    rng = np.random.default_rng(3)
    src = str(tmp_path / "pb_src")
    out = str(tmp_path / "pb_idx")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(600, dtype=np.int64),
                "embedding": list(
                    rng.standard_normal((600, 16)).astype(np.float32)
                ),
            }
        ),
        "vec_id long, embedding array<float>",
    ).write.parquet(src)
    rc = main([
        "pbuild", "--input", src, "--output", out, "--shards", "3",
        "--R", "8", "--L", "16", "--ef-search", "16",
        "--calibrate", "--pack", "pq:16:64",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    prof = rep["pq_profile"]
    # the persisted pack is the profile's (m, strategy) at the spec's ksub
    with open(out + "/_meta.json") as f:
        meta = json.load(f)
    assert ["pq", int(prof["pq_m"]), 64, bool(prof["per_shard_codebooks"])] in [
        list(p) for p in meta["packs"]
    ]
    # a restart's default-profile request resolves to the SAVED pack
    loaded = PartitionedVamanaIndex.load(spark, out)
    lprof = loaded.pq_profile(pq_ksub=64)
    key = ("pq", int(lprof["pq_m"]), 64, bool(lprof["per_shard_codebooks"]))
    assert key in loaded._packed_paths, (key, list(loaded._packed_paths))
    q = spark.read.parquet(src).limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert loaded.search_pq(q, k=3, pq_ksub=64).count() == 15
    loaded.unpersist_packed()
