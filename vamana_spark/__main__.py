"""CLI for the engine: ``python -m vamana_spark <command>``.

Commands mirror the reference's driver workflow (build → save → load →
search → recall, main.cpp:33-168) plus the pipeline operators:

  build   --input emb.parquet --output idx_dir [--R --L --alpha --shards]
  search  --index idx_dir --queries q.parquet --output out.parquet [--k]
  knn     --input emb.parquet --queries q.parquet --output out.parquet [--k]
  recall  --approx a.parquet --truth t.parquet [--k]
  dedup   --input docs.parquet --output out.parquet [--mode exact|minhash|spans|semantic|incremental|incremental-near] [--against corpus.parquet]
  decontaminate --train tr.parquet --test te.parquet --output out.parquet
                [--n 8 --max-shingle-docs N]
  sample  --input docs.parquet --output out.parquet
          [--n N [--weight-col col | --strata-col col | (uniform top-n)]
           | --temperature T [--group-col col]]
  range   --input emb.parquet --queries q.parquet --output out.parquet
          --radius R
  delete  --index idx_dir --ids ids.parquet --output new_idx_dir
  chunk   --input docs.parquet --output out.parquet [--max-len --stride]
  pbuild  --input emb.parquet --output idx_dir [--shards --overlap ...]
  psearch --index idx_dir --queries q.parquet --output out.parquet
          [--k --nprobe --pq]

Query parquet schema: (query_id long, query_vec array<float>).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from vamana_spark.session import get_session

    return get_session(app)


def cmd_build(args) -> int:
    from vamana_spark import VamanaIndex, VamanaParams

    spark = _spark("vamana-build")
    df = spark.read.parquet(args.input)
    dim = df.selectExpr(f"size({args.vec_col}) d").first()["d"]
    params = VamanaParams(
        dim=dim, alpha=args.alpha, R=args.R, L=args.L,
        ef_search=args.ef_search, seed=args.seed, num_shards=args.shards,
    )
    idx = VamanaIndex.build(spark, df, params, id_col=args.id_col, vec_col=args.vec_col)
    idx.save(args.output)
    print(json.dumps({"built": idx.describe(), "health": idx.health_check()}))
    return 0


def cmd_search(args) -> int:
    from vamana_spark import VamanaIndex

    spark = _spark("vamana-search")
    idx = VamanaIndex.load(spark, args.index)
    q = spark.read.parquet(args.queries)
    out = idx.search(q, k=args.k)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": q.count(), "result_rows": out.count(), "k": args.k}))
    return 0


def cmd_knn(args) -> int:
    from vamana_spark import exact

    spark = _spark("vamana-knn")
    pts = spark.read.parquet(args.input)
    q = spark.read.parquet(args.queries)
    out = exact.exact_knn_batch(pts, q, k=args.k, id_col=args.id_col, vec_col=args.vec_col)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": q.count(), "result_rows": out.count(), "k": args.k}))
    return 0


def cmd_recall(args) -> int:
    from vamana_spark import quality

    spark = _spark("vamana-recall")
    a = spark.read.parquet(args.approx)
    t = spark.read.parquet(args.truth)
    r = quality.avg_recall(a, t, k=args.k)
    print(json.dumps({"avg_recall": round(r, 4), "k": args.k}))
    return 0 if r >= args.threshold else 1


def cmd_dedup(args) -> int:
    from vamana_spark.operators import dedup

    spark = _spark("vamana-dedup")
    docs = spark.read.parquet(args.input)
    if args.mode == "exact":
        out = dedup.exact_dedup(docs, text_col=args.text_col, id_col=args.id_col)
    elif args.mode == "spans":
        # span-level substring dedup: rewrite docs with duplicated
        # k-token spans cut out (Lee et al. 2022 pass)
        out = dedup.cut_duplicate_spans(
            docs, text_col=args.text_col, id_col=args.id_col, k=args.span_k
        )
    elif args.mode == "incremental":
        # dedup the input BATCH against an already-ingested corpus
        # (one corpus pass; the corpus never shuffles on content)
        if not args.against:
            raise SystemExit("--mode incremental requires --against <corpus>")
        seen = spark.read.parquet(args.against)
        out = dedup.incremental_dedup(
            docs, seen, text_col=args.text_col, id_col=args.id_col
        )
    elif args.mode == "incremental-near":
        # cross-snapshot near-dup PAIRS (batch_id, seen_id, jaccard) —
        # anti-join your batch on batch_id to drop matched rows
        if not args.against:
            raise SystemExit("--mode incremental-near requires --against <corpus>")
        seen = spark.read.parquet(args.against)
        if args.signatures:
            # persisted signature store: banding parameters come from the
            # store's own metadata (dedup.save_signatures wrote them)
            out = dedup.scan_against_store(
                docs, seen, args.signatures, text_col=args.text_col,
                threshold=args.threshold, id_col=args.id_col,
                decision_only=args.decision_only,
            )
        else:
            out = dedup.incremental_near_dups(
                docs, seen, text_col=args.text_col, id_col=args.id_col,
                threshold=args.threshold, decision_only=args.decision_only,
            )
    elif args.mode == "semantic":
        # SemDeDup over an embedding column: survivors only
        from pyspark.sql import functions as F

        keep = dedup.semantic_dedup(
            docs, threshold=args.threshold, id_col=args.id_col,
            vec_col=args.vec_col, probes=args.probes,
        ).where(F.col("keep")).select(F.col("vec_id").alias(args.id_col))
        out = docs.join(keep, args.id_col)
    else:
        out = dedup.minhash_near_dups(
            docs, text_col=args.text_col, id_col=args.id_col,
            threshold=args.threshold, consumer=args.consumer,
        )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"input_rows": docs.count(), "output_rows": out.count(),
                      "mode": args.mode}))
    return 0


def cmd_clean(args) -> int:
    """Composed corpus-cleaning pipeline: optional Gopher gate, C4 line
    filter, PII scrub, and corpus-level line dedup, in that order."""
    from pyspark.sql import functions as F

    from vamana_spark.operators import dedup, text

    spark = _spark("vamana-clean")
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    cur = docs
    if args.gopher:
        gate = text.gopher_quality_filter(
            cur, text_col=args.text_col, id_col=args.id_col
        ).where(F.col("gopher_pass")).select(args.id_col)
        cur = cur.join(gate, args.id_col)
    if args.c4:
        cleaned = text.c4_clean(
            cur, text_col=args.text_col, id_col=args.id_col
        ).where(F.col("doc_pass"))
        cur = cur.drop(args.text_col).join(
            cleaned.select(
                args.id_col, F.col("clean_text").alias(args.text_col)
            ),
            args.id_col,
        )
    if args.pii:
        cur = text.pii_scrub(cur, text_col=args.text_col)
    if args.line_dedup:
        deduped = dedup.dedup_lines(
            cur, text_col=args.text_col, id_col=args.id_col
        )
        cur = cur.drop(args.text_col).join(
            deduped.select(args.id_col, args.text_col), args.id_col
        )
    if args.ppl_band:
        lo, hi = (float(x) for x in args.ppl_band.split(":"))
        scored = text.bigram_logprob_score(
            cur, text_col=args.text_col, id_col=args.id_col
        ).select(args.id_col, "bigram_ppl")
        # LEFT join: docs with <2 tokens get no bigram score and pass
        # through unfiltered (an inner join would silently drop
        # them regardless of the band); shorter gates belong to --gopher
        cur = (
            cur.join(scored, args.id_col, "left")
            .where(
                F.col("bigram_ppl").isNull()
                | F.col("bigram_ppl").between(lo, hi)
            )
            .drop("bigram_ppl")
        )
    cur.write.mode("overwrite").parquet(args.output)
    # count the WRITTEN parquet (footer read) instead of re-running the
    # whole uncached pipeline a second time
    print(json.dumps({
        "input_rows": n_in,
        "output_rows": spark.read.parquet(args.output).count(),
        "passes": {"gopher": bool(args.gopher), "c4": bool(args.c4),
                   "pii": bool(args.pii), "line_dedup": bool(args.line_dedup),
                   "ppl_band": args.ppl_band},
    }))
    return 0


def cmd_decontaminate(args) -> int:
    from vamana_spark.operators import dedup

    spark = _spark("vamana-decontaminate")
    train = spark.read.parquet(args.train)
    test = spark.read.parquet(args.test)
    out = dedup.contamination_check(
        train, test, n=args.n, text_col=args.text_col, id_col=args.id_col,
        max_shingle_docs=args.max_shingle_docs,
    )
    out.write.mode("overwrite").parquet(args.output)
    n_pairs = out.count()
    print(json.dumps({
        "test_docs": test.count(),
        "contaminated_pairs": n_pairs,
        "contaminated_test_docs": out.select("test_id").distinct().count(),
        "n": args.n,
    }))
    return 0


def cmd_sample(args) -> int:
    from vamana_spark.operators import sampling

    spark = _spark("vamana-sample")
    docs = spark.read.parquet(args.input)
    if args.temperature is not None:
        if args.n is not None or args.weight_col or args.strata_col:
            raise SystemExit(
                "sample: --temperature cannot be combined with --n, "
                "--weight-col, or --strata-col"
            )
        out = sampling.temperature_mixture(
            docs,
            args.temperature,
            group_col=args.group_col,
            id_col=args.id_col,
            seed=args.seed,
        )
    elif args.n is None:
        raise SystemExit("sample: --n is required unless --temperature is given")
    elif args.weight_col:
        out = sampling.weighted_sample(
            docs, args.n, args.weight_col, id_col=args.id_col, seed=args.seed
        )
    elif args.strata_col:
        out = sampling.stratified_sample(
            docs, args.strata_col, args.n, id_col=args.id_col, seed=args.seed
        )
    else:
        out = sampling.deterministic_sample(
            docs, args.n, id_col=args.id_col, seed=args.seed
        )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"input_rows": docs.count(), "sample_rows": out.count()}))
    return 0


def cmd_select(args) -> int:
    """DSIR importance resampling toward a target subset: keep the n
    documents whose hashed-ngram bag most resembles the target
    distribution (Gumbel-top-n over the likelihood-ratio weights)."""
    from pyspark.sql import functions as F

    from vamana_spark.operators import sampling

    spark = _spark("vamana-select")
    docs = spark.read.parquet(args.input)
    target = F.expr(args.target)
    picked = sampling.dsir_sample(
        docs,
        target,
        n=args.n,
        text_col=args.text_col,
        id_col=args.id_col,
        num_buckets=args.num_buckets,
        seed=args.seed,
        temperature=args.temperature,
    ).select(args.id_col, "is_target", "log_weight")
    out = docs.join(picked.select(args.id_col), args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    n_tgt = picked.where("is_target").count()
    print(
        json.dumps(
            {
                "input_rows": docs.count(),
                "selected_rows": out.count(),
                "selected_target_rows": n_tgt,
            }
        )
    )
    return 0


def cmd_search_text(args) -> int:
    """BM25 ranked retrieval over a parquet corpus for a term query
    (contamination probes, targeted corpus slicing)."""
    from vamana_spark.operators import text as T

    spark = _spark("vamana-search-text")
    docs = spark.read.parquet(args.input)
    out = T.bm25_rank(
        docs, args.terms, k1=args.k1, b=args.b, top_n=args.top_n,
        text_col=args.text_col, id_col=args.id_col,
    )
    rows = out.collect()  # bounded: top_n rows
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "terms": sorted({str(t).lower() for t in args.terms}),
        "matched": len(rows),
        "top": [r.asDict() for r in rows],
    }))
    return 0


def cmd_search_text_batch(args) -> int:
    """Batch BM25: a parquet of probes (probe_id, terms array<string>)
    ranked against the corpus in ONE job — the production shape of a
    contamination-probe sweep (thousands of probes without a
    driver-side loop)."""
    from vamana_spark.operators import text as T

    spark = _spark("vamana-search-text-batch")
    docs = spark.read.parquet(args.input)
    probes = spark.read.parquet(args.probes)
    out = T.bm25_rank_batch(
        docs, probes, k1=args.k1, b=args.b, top_n=args.top_n,
        text_col=args.text_col, id_col=args.id_col,
        probe_id_col=args.probe_id_col, terms_col=args.terms_col,
    )
    out.write.mode("overwrite").parquet(args.output)
    res = spark.read.parquet(args.output)
    print(json.dumps({
        "probes": probes.count(),
        "result_rows": res.count(),
        "probes_with_hits": res.select("probe_id").distinct().count(),
    }))
    return 0


def cmd_range(args) -> int:
    from vamana_spark import exact

    spark = _spark("vamana-range")
    pts = spark.read.parquet(args.input)
    q = spark.read.parquet(args.queries)
    out = exact.range_search(
        pts, q, radius=args.radius, id_col=args.id_col, vec_col=args.vec_col
    )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": q.count(), "result_rows": out.count(),
                      "radius": args.radius}))
    return 0


def cmd_delete(args) -> int:
    from vamana_spark import VamanaIndex
    from pyspark.sql import functions as F

    spark = _spark("vamana-delete")
    idx = VamanaIndex.load(spark, args.index)
    ids = spark.read.parquet(args.ids)
    idx2 = idx.delete_points(ids, id_col=args.id_col)
    idx2.save(args.output)
    print(json.dumps({"before": idx.data_size, "after": idx2.data_size,
                      "health": idx2.health_check()}))
    return 0


def cmd_chunk(args) -> int:
    from vamana_spark.operators import text

    spark = _spark("vamana-chunk")
    docs = spark.read.parquet(args.input)
    out = text.chunk_tokens(
        docs, max_len=args.max_len, stride=args.stride,
        text_col=args.text_col, id_col=args.id_col,
    )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"docs": docs.count(), "chunks": out.count(),
                      "max_len": args.max_len}))
    return 0


def _parse_packs(specs) -> tuple:
    packs = []
    for spec in specs:
        parts = spec.split(":")
        try:
            if len(parts) == 1 and parts[0] == "flat":
                packs.append("flat")
            elif len(parts) == 3 and parts[0] in ("pq", "opq"):
                packs.append((parts[0], int(parts[1]), int(parts[2])))
            elif (
                len(parts) == 4 and parts[0] == "pq" and parts[3] == "pershard"
            ):
                # the per-shard-codebook strategy must be
                # expressible from the CLI, or a pq_profile that
                # recommends it can never be persisted by pbuild
                packs.append(("pq", int(parts[1]), int(parts[2]), True))
            else:
                raise ValueError
        except ValueError:
            raise SystemExit(
                f"--pack {spec!r}: expected 'flat', 'pq:M:KSUB', "
                "'pq:M:KSUB:pershard' or 'opq:M:KSUB' (e.g. --pack pq:8:256)"
            )
    return tuple(packs)


def _profile_packs(idx, packs) -> tuple:
    """Rewrite pq pack specs to the index's measured pq_profile choice.
    ``pbuild --calibrate`` persists the profile, but a
    literal CLI pack spec (m, global) could differ from the profile's
    (m, per_shard) choice — a serving restart with default pq_m would
    then follow the profile, miss the saved pack, and silently
    re-train/re-pack (minutes at 10M). With --calibrate, each pq spec
    keeps its KSUB but takes the profile's m and codebook strategy —
    exactly the pack ``psearch --pq`` will ask for."""
    out = []
    for p in packs:
        if isinstance(p, str) or p[0] not in ("pq", "opq"):
            out.append(p)
            continue
        ksub = int(p[2])
        prof = idx.pq_profile(pq_ksub=ksub)
        if prof.get("opq"):
            # the profile's measured pick may be the learned
            # rotation at the same m — persist the pack psearch's
            # profile-following default will actually request
            out.append(("opq", int(prof["pq_m"]), ksub))
        else:
            out.append(
                ("pq", int(prof["pq_m"]), ksub,
                 bool(prof["per_shard_codebooks"]))
            )
    # a profile rewrite can collapse two specs onto one pack
    seen, dedup = set(), []
    for p in out:
        key = p if isinstance(p, str) else tuple(p)
        if key not in seen:
            seen.add(key)
            dedup.append(p)
    return tuple(dedup)


def cmd_pbuild(args) -> int:
    from vamana_spark import VamanaParams
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    packs = _parse_packs(args.pack)  # fail fast, before any Spark work
    spark = _spark("vamana-pbuild")
    df = spark.read.parquet(args.input)
    dim = df.selectExpr(f"size({args.vec_col}) d").first()["d"]
    params = VamanaParams(
        dim=dim, alpha=args.alpha, R=args.R, L=args.L,
        ef_search=args.ef_search, seed=args.seed,
    )
    graph = False if args.no_graph else (True if args.with_graph else None)
    idx = PartitionedVamanaIndex.build(
        spark, df, params, num_shards=args.shards,
        id_col=args.id_col, vec_col=args.vec_col, overlap=args.overlap,
        graph=graph,
    )
    cal: dict = {}
    if args.calibrate:
        kw = (
            {"target_recall": float(args.target_recall)}
            if args.target_recall is not None
            else {}
        )
        cal["recommended_nprobe"] = idx.calibrate_nprobe(**kw)
        # profile the packs FIRST: each pq_profile(ksub) call overwrites
        # the single memo, so the default-ksub call must come LAST —
        # save() persists the memo, and a restart's default `psearch
        # --pq` (ksub=256) must find a profile matching its own request
        # or it silently re-trains the pack (memo-hit when
        # the last spec already used the default ksub)
        packs = _profile_packs(idx, packs)  # persist what psearch will ask for
        cal["pq_profile"] = idx.pq_profile()
    idx.save(args.output, packs=packs)
    print(json.dumps({"n": idx.params.n, "shards": idx.params.num_shards,
                      "overlap": idx.params.shard_overlap,
                      "packs": [list(p) if not isinstance(p, str) else p
                                for p in packs],
                      "graph": "auto" if graph is None else graph,
                      "health": idx.health_check(), **cal}))
    return 0


def cmd_resplit(args) -> int:
    from vamana_spark.index.partitioned import (
        PartitionedVamanaIndex,
        resplit_oversized,
    )

    packs = _parse_packs(args.pack)
    spark = _spark("vamana-resplit")
    idx = PartitionedVamanaIndex.load(spark, args.index)
    out = resplit_oversized(idx, max_shard_factor=args.factor)
    changed = out is not idx
    if changed and args.calibrate:
        # resplit_oversized already auto-carries the input's operating
        # point; only re-measure here when the operator overrides
        # the target or the input was never calibrated — a bare
        # re-measure would silently RESET a carried 0.98 target to the
        # default
        if args.target_recall is not None:
            out.calibrate_nprobe(target_recall=float(args.target_recall))
        elif out.recommended_nprobe is None:
            out.calibrate_nprobe()
        # same ordering as cmd_pbuild: pack profiling last
        # would leave a non-default-ksub memo persisted; default-ksub
        # profile must be the one save() writes
        packs = _profile_packs(out, packs)
        out.pq_profile()
    out.save(args.output, packs=packs)
    print(json.dumps({
        "resplit": changed,
        "shards_before": int(idx.params.num_shards),
        "shards_after": int(out.params.num_shards),
        "health": out.health_check(),
    }))
    return 0


def cmd_psearch(args) -> int:
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    spark = _spark("vamana-psearch")
    idx = PartitionedVamanaIndex.load(spark, args.index)
    q = spark.read.parquet(args.queries)
    # --auto-nprobe serves at the index's persisted operating point
    # (calibrated when `pbuild --calibrate` ran, else the S/4 floor);
    # the bare default stays EXHAUSTIVE per the search contract
    nprobe = idx.default_nprobe if args.auto_nprobe else args.nprobe
    if args.pq:
        out = idx.search_pq(
            q, k=args.k, nprobe=nprobe,
            pq_m=args.pq_m, pq_ksub=args.pq_ksub,
        )
    else:
        out = idx.search(q, k=args.k, nprobe=nprobe)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": q.count(), "result_rows": out.count(),
                      "k": args.k, "pq": bool(args.pq),
                      "nprobe": nprobe}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="vamana_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--id-col", dest="id_col", default="vec_id")
    b.add_argument("--vec-col", dest="vec_col", default="embedding")
    b.add_argument("--R", type=int, default=32)
    b.add_argument("--L", type=int, default=64)
    b.add_argument("--alpha", type=float, default=1.2)
    b.add_argument("--ef-search", dest="ef_search", type=int, default=100)
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--shards", type=int, default=1)
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--k", type=int, default=10)
    s.set_defaults(fn=cmd_search)

    cl = sub.add_parser("clean")
    cl.add_argument("--input", required=True)
    cl.add_argument("--output", required=True)
    cl.add_argument("--text-col", dest="text_col", default="text")
    cl.add_argument("--id-col", dest="id_col", default="doc_id")
    cl.add_argument("--gopher", action="store_true",
                    help="drop docs failing the published Gopher rules")
    cl.add_argument("--c4", action="store_true",
                    help="C4 line filter; drops vetoed docs, rewrites text")
    cl.add_argument("--pii", action="store_true",
                    help="replace emails/SSNs/IPs/phones with typed tokens")
    cl.add_argument("--line-dedup", dest="line_dedup", action="store_true",
                    help="corpus-level first-occurrence line dedup")
    cl.add_argument("--ppl-band", dest="ppl_band", default=None,
                    metavar="LO:HI",
                    help="keep docs whose bigram perplexity (corpus-own "
                         "model) falls in [LO, HI] — drops both the "
                         "degenerate-repetitive and the gibberish tails; "
                         "docs with <2 tokens have no bigram score and "
                         "pass through unfiltered")
    cl.set_defaults(fn=cmd_clean)

    kn = sub.add_parser("knn")
    kn.add_argument("--input", required=True)
    kn.add_argument("--queries", required=True)
    kn.add_argument("--output", required=True)
    kn.add_argument("--id-col", dest="id_col", default="vec_id")
    kn.add_argument("--vec-col", dest="vec_col", default="embedding")
    kn.add_argument("--k", type=int, default=10)
    kn.set_defaults(fn=cmd_knn)

    r = sub.add_parser("recall")
    r.add_argument("--approx", required=True)
    r.add_argument("--truth", required=True)
    r.add_argument("--k", type=int, default=10)
    r.add_argument("--threshold", type=float, default=0.8)
    r.set_defaults(fn=cmd_recall)

    d = sub.add_parser("dedup")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument(
        "--mode",
        choices=["exact", "minhash", "spans", "semantic", "incremental",
                 "incremental-near"],
        default="exact",
    )
    d.add_argument("--against", default=None,
                   help="mode=incremental|incremental-near: parquet path of "
                        "the already-ingested corpus to dedup the input "
                        "batch against; mode=incremental drops exactly the "
                        "batch rows whose normalized text the corpus holds, "
                        "in one corpus pass")
    d.add_argument("--signatures", default=None,
                   help="mode=incremental-near: directory of a persisted "
                        "corpus signature store (dedup.save_signatures) — "
                        "skips the corpus signature pass and takes banding "
                        "parameters from the store's metadata")
    d.add_argument("--text-col", dest="text_col", default="text")
    d.add_argument("--id-col", dest="id_col", default="doc_id")
    d.add_argument("--vec-col", dest="vec_col", default="embedding")
    d.add_argument("--threshold", type=float, default=0.7)
    d.add_argument("--span-k", dest="span_k", type=int, default=5)
    d.add_argument("--consumer", choices=["audit", "cluster"],
                   default="audit",
                   help="mode=minhash: star-cap preset — 'cluster' (cap 64) "
                        "for cluster/survivor consumers (7-11x cheaper "
                        "intermediates at 10M, identical clusters), 'audit' "
                        "(cap 512) for exhaustive pair lists")
    d.add_argument("--decision-only", dest="decision_only",
                   action="store_true",
                   help="mode=incremental-near: ingest gate — one best-hit "
                        "row per flagged batch doc (witness cap 8, staged "
                        "first-hit verify). Flag set identical to the audit "
                        "path AT EQUAL WITNESS CAPS (stage 2 exhausts all "
                        "candidates); the cap itself can unflag a doc whose "
                        "only passing witnesses were capped away — measured "
                        "equal on the 10M Zipf rung. Fewer verify-join rows "
                        "(measured 173.9x at the 10M rung)")
    d.add_argument("--probes", type=int, default=1,
                   help="mode=semantic: multi-probe cell assignment — 2 "
                        "recovers Voronoi-boundary straddle pairs (10M rung: "
                        "planted recall 0.9156 -> 0.9859 at ~5x scan cost); "
                        "3 additionally recovers >=3-cell corner straddle "
                        "(10M rung: 0.9859 -> 0.9979 at 2.36x the probes=2 "
                        "wall — reach for it at recall targets >= 0.995)")
    d.set_defaults(fn=cmd_dedup)

    dc = sub.add_parser("decontaminate")
    dc.add_argument("--train", required=True)
    dc.add_argument("--test", required=True)
    dc.add_argument("--output", required=True)
    dc.add_argument("--n", type=int, default=8)
    dc.add_argument("--text-col", dest="text_col", default="text")
    dc.add_argument("--id-col", dest="id_col", default="doc_id")
    dc.add_argument("--max-shingle-docs", dest="max_shingle_docs",
                    type=int, default=None)
    dc.set_defaults(fn=cmd_decontaminate)

    sm = sub.add_parser("sample")
    sm.add_argument("--input", required=True)
    sm.add_argument("--output", required=True)
    sm.add_argument("--n", type=int, default=None)
    sm.add_argument("--weight-col", dest="weight_col", default=None)
    sm.add_argument("--strata-col", dest="strata_col", default=None)
    sm.add_argument("--temperature", type=float, default=None)
    sm.add_argument("--group-col", dest="group_col", default="source")
    sm.add_argument("--id-col", dest="id_col", default="doc_id")
    sm.add_argument("--seed", type=int, default=42)
    sm.set_defaults(fn=cmd_sample)

    sl = sub.add_parser("select")
    sl.add_argument("--input", required=True)
    sl.add_argument("--output", required=True)
    sl.add_argument("--n", type=int, required=True)
    sl.add_argument(
        "--target", required=True,
        help="boolean SQL expression over the input defining the target "
             "subset, e.g. \"lang = 'en'\"",
    )
    sl.add_argument("--text-col", dest="text_col", default="text")
    sl.add_argument("--id-col", dest="id_col", default="doc_id")
    sl.add_argument("--num-buckets", dest="num_buckets", type=int, default=4096)
    sl.add_argument("--seed", type=int, default=42)
    sl.add_argument("--temperature", type=float, default=1.0)
    sl.set_defaults(fn=cmd_select)

    st = sub.add_parser("search-text")
    st.add_argument("--input", required=True)
    st.add_argument("--terms", nargs="+", required=True)
    st.add_argument("--output", default=None)
    st.add_argument("--top-n", dest="top_n", type=int, default=20)
    st.add_argument("--k1", type=float, default=1.2)
    st.add_argument("--b", type=float, default=0.75)
    st.add_argument("--text-col", dest="text_col", default="text")
    st.add_argument("--id-col", dest="id_col", default="doc_id")
    st.set_defaults(fn=cmd_search_text)

    stb = sub.add_parser("search-text-batch")
    stb.add_argument("--input", required=True)
    stb.add_argument("--probes", required=True)
    stb.add_argument("--output", required=True)
    stb.add_argument("--top-n", dest="top_n", type=int, default=20)
    stb.add_argument("--k1", type=float, default=1.2)
    stb.add_argument("--b", type=float, default=0.75)
    stb.add_argument("--text-col", dest="text_col", default="text")
    stb.add_argument("--id-col", dest="id_col", default="doc_id")
    stb.add_argument("--probe-id-col", dest="probe_id_col", default="probe_id")
    stb.add_argument("--terms-col", dest="terms_col", default="terms")
    stb.set_defaults(fn=cmd_search_text_batch)

    rg = sub.add_parser("range")
    rg.add_argument("--input", required=True)
    rg.add_argument("--queries", required=True)
    rg.add_argument("--output", required=True)
    rg.add_argument("--radius", type=float, required=True)
    rg.add_argument("--id-col", dest="id_col", default="vec_id")
    rg.add_argument("--vec-col", dest="vec_col", default="embedding")
    rg.set_defaults(fn=cmd_range)

    de = sub.add_parser("delete")
    de.add_argument("--index", required=True)
    de.add_argument("--ids", required=True)
    de.add_argument("--output", required=True)
    de.add_argument("--id-col", dest="id_col", default="vec_id")
    de.set_defaults(fn=cmd_delete)

    ch = sub.add_parser("chunk")
    ch.add_argument("--input", required=True)
    ch.add_argument("--output", required=True)
    ch.add_argument("--max-len", dest="max_len", type=int, default=64)
    ch.add_argument("--stride", type=int, default=None)
    ch.add_argument("--text-col", dest="text_col", default="text")
    ch.add_argument("--id-col", dest="id_col", default="doc_id")
    ch.set_defaults(fn=cmd_chunk)

    pb = sub.add_parser("pbuild")
    pb.add_argument("--input", required=True)
    pb.add_argument("--output", required=True)
    pb.add_argument("--id-col", dest="id_col", default="vec_id")
    pb.add_argument("--vec-col", dest="vec_col", default="embedding")
    pb.add_argument("--R", type=int, default=32)
    pb.add_argument("--L", type=int, default=64)
    pb.add_argument("--alpha", type=float, default=1.2)
    pb.add_argument("--ef-search", dest="ef_search", type=int, default=100)
    pb.add_argument("--seed", type=int, default=42)
    pb.add_argument("--shards", type=int, default=8)
    pb.add_argument("--overlap", type=int, default=1)
    pb.add_argument(
        "--pack", action="append", default=[],
        help="also persist a search-ready pack: 'flat', 'pq:M:KSUB', "
             "'pq:M:KSUB:pershard' or 'opq:M:KSUB' (repeatable); psearch "
             "then serves without re-packing. With --calibrate, pq specs "
             "keep their KSUB but take the profile's measured m, rotation "
             "and codebook strategy — the pack a default psearch --pq "
             "will request",
    )
    pb.add_argument(
        "--no-graph", dest="no_graph", action="store_true",
        help="force the IVF-flat build: no per-shard Vamana graphs "
             "(serving is exact-brute within probed shards anyway at "
             "shard sizes under the 4*ef*R crossover; identical "
             "results, far cheaper build). Default: per-shard auto — "
             "graphs only where the shard exceeds the crossover",
    )
    pb.add_argument(
        "--with-graph", dest="with_graph", action="store_true",
        help="force per-shard graphs everywhere (override the auto rule)",
    )
    pb.add_argument(
        "--calibrate", action="store_true",
        help="measure and persist the serving defaults: "
             "calibrate_nprobe() from ground-truth probe reachability "
             "and pq_profile() from ADC shortlist agreement — "
             "psearch --auto-nprobe / --pq then serve at them",
    )
    pb.add_argument(
        "--target-recall", dest="target_recall", type=float, default=None,
        help="calibration target for --calibrate (persists with the "
             "index; maintenance re-measures at the SAME target)",
    )
    pb.set_defaults(fn=cmd_pbuild)

    rsp = sub.add_parser("resplit")
    rsp.add_argument("--index", required=True)
    rsp.add_argument("--output", required=True)
    rsp.add_argument(
        "--factor", type=float, default=2.0,
        help="max shard population as a multiple of the fair share "
             "before a cell is re-split (same rule as the build guard)",
    )
    rsp.add_argument(
        "--pack", action="append", default=[],
        help="re-persist serving packs with the re-split index "
             "(maintenance invalidates old packs)",
    )
    rsp.add_argument(
        "--calibrate", action="store_true",
        help="re-measure serving defaults after the re-split",
    )
    rsp.add_argument(
        "--target-recall", dest="target_recall", type=float, default=None,
        help="override the carried calibration target for this "
             "maintenance pass (default: the index's persisted target)",
    )
    rsp.set_defaults(fn=cmd_resplit)

    ps = sub.add_parser("psearch")
    ps.add_argument("--index", required=True)
    ps.add_argument("--queries", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--k", type=int, default=10)
    ps.add_argument("--nprobe", type=int, default=None)
    ps.add_argument(
        "--auto-nprobe", dest="auto_nprobe", action="store_true",
        help="serve at the index's persisted operating point "
             "(calibrated when built with --calibrate, else the S/4 "
             "floor); default without it is exhaustive",
    )
    ps.add_argument("--pq", action="store_true")
    ps.add_argument(
        "--pq-m", dest="pq_m", type=int, default=None,
        help="PQ subspace count; default: the index's pq_profile "
             "(data-measured m, per-shard fallback when unsafe)",
    )
    ps.add_argument("--pq-ksub", dest="pq_ksub", type=int, default=256)
    ps.set_defaults(fn=cmd_psearch)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
