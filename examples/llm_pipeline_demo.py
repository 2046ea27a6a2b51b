"""End-to-end training-data pipeline demo — the beyond-reference half
of this engine, in one script over the documents/embeddings tables:

  documents
    -> curation          (quality gate + language gate + exact-dedup rep)
    -> near-dup pairs    (full-corpus PPJoin exact Jaccard)
    -> dedup clusters    (connected components; one survivor per group)
    -> class rebalance   (deterministic stratified sample by language)
    -> weighted sample   (A-ES reservoir, k per source, length-weighted)
    -> corpus stats      (KMV distinct sketch vs exact)
    -> relevance search  (BM25 over the curated corpus)
  events
    -> training grid     (hourly resample + fill-forward per user)
  embeddings
    -> ANN search        (IVF probe vs brute-force recall)
    -> storage quantize  (absmax int8 — the 100 TB shipping format)
  orders
    -> layout            (z-order clustering for 2-D file pruning)

Run:  python examples/llm_pipeline_demo.py  [sf_dir]
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
from ingestprocessstoreinnrt_spark.operators import (
    curation,
    dedup,
    layout,
    similarity,
    sketch,
    textops,
    timeseries,
)
from ingestprocessstoreinnrt_spark.session import get_spark


_STAGES: list = []


@contextlib.contextmanager
def _stage(label: str):
    """Wall-clock one pipeline stage (for the sf10 end-to-end run the
    per-op probes can't cover: cache/memory interaction BETWEEN
    families in one session)."""
    t0 = time.perf_counter()
    yield
    _STAGES.append((label, round(time.perf_counter() - t0, 2)))


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark("llm-pipeline-demo")
    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    # 1. curation: quality + language gates, exact-dedup representative
    with _stage("1 curation"):
        curated = textops.curated_corpus(spark, sf_dir)
        n_curated = curated.count()
        print(f"[1] curation: {n_raw} raw docs -> {n_curated} curated reps")

    # 2. near-dup pairs + connected components -> one survivor per group
    with _stage("2 near-dup pairs + connected components -> one survivor per group"):
        # auto-tier the pair path: exact PPJoin Jaccard is the anchor
        # at audit scale; past the threshold the pipeline switches to
        # the production MinHash+LSH path (measured 97.1% recall vs
        # exact, linear at sf10 — PERFORMANCE.md), exactly as a 100 TB
        # deployment would.  Same (doc_a, doc_b, jaccard) contract.
        n_docs = load_table(spark, sf_dir, "documents").count()
        exact_path = n_docs <= 100_000
        pair_fn = (
            dedup.jaccard_pairs_full if exact_path else dedup.minhash_lsh_pairs
        )
        pairs = pair_fn(spark, sf_dir).select("doc_a", "doc_b")
        clusters = dedup.connected_components(pairs)
        n_members = clusters.count()
        n_groups = clusters.select("cluster_rep").distinct().count()
        print(
            f"[2] near-dup ({'exact PPJoin' if exact_path else 'MinHash+LSH'}"
            f" tier at {n_docs} docs): {pairs.count()} pairs -> "
            f"{n_members} docs in {n_groups} clusters "
            f"({n_members - n_groups} near-dups droppable)"
        )

    # 3. deterministic language rebalance
    with _stage("3 deterministic language rebalance"):
        balance = textops.sample_balanced_corpus(spark, sf_dir)
        print("[3] stratified sample (en downsampled to ~50%):")
        for r in balance.orderBy("lang").collect():
            print(f"      {r.lang}: {r.n_before} -> {r.n_after}")

    # 4. cardinality sketch vs exact
    with _stage("4 cardinality sketch vs exact"):
        s = sketch.kmv_distinct_customers(spark, sf_dir).collect()[0]
        print(
            f"[4] KMV sketch: approx {s.approx_distinct:.0f} vs exact "
            f"{s.exact_distinct} distinct keys (k={s.k_eff})"
        )

    # 5. BM25 relevance over the corpus
    with _stage("5 BM25 relevance over the corpus"):
        top = textops.text_bm25(spark, sf_dir).orderBy("rank").limit(3).collect()
        print(
            "[5] BM25 top hits for "
            f"{textops.BM25_TERMS}: "
            + ", ".join(f"doc {r.doc_id} ({r.score:.3f})" for r in top)
        )

    # 6. ANN over embeddings: IVF probe vs brute force
    with _stage("6 ANN over embeddings"):
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_topk_cosine(spark, sf_dir).collect()
        }
        ivf = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_ivf_topk(spark, sf_dir).collect()
        }
        print(
            f"[6] ANN: IVF recall vs brute force "
            f"{len(ivf & exact) / len(exact):.2f} "
            f"({len(ivf)} probe results, {len(exact)} exact top-k)"
        )

    # 7. weighted reservoir sample (length-weighted, k per source)
    with _stage("7 weighted reservoir sample"):
        ws = textops.weighted_sample(spark, sf_dir)
        by_src = ws.groupBy("source").agg(
            F.count(F.lit(1)).alias("k"), F.sum("weight").alias("w")
        )
        picks = ", ".join(
            f"{r.source}: {r.k} seats" for r in by_src.orderBy("source").collect()
        )
        print(f"[7] weighted reservoir sample — {picks}")

    # 8. training grid: hourly resample + fill-forward
    with _stage("8 training grid"):
        grid = timeseries.resample_ffill(spark, sf_dir)
        n_cells = grid.count()
        n_empty = grid.filter(F.col("n_events") == 0).count()
        print(
            f"[8] resample: {n_cells} hourly cells, "
            f"{n_empty} empty hours fill-forwarded"
        )

    # 9. int8 storage quantization
    with _stage("9 int8 storage quantization"):
        q = similarity.emb_quantize_int8(spark, sf_dir)
        mx = q.agg(F.max(F.abs(F.col("qval")))).collect()[0][0]
        print(
            f"[9] int8 quantization: {q.count()} components, |q| <= {mx} "
            f"(4x smaller than float32 at rest)"
        )

    # 10. z-order layout quality
    with _stage("10 z-order layout quality"):
        z = layout.zorder_orders(spark, sf_dir)
        print(
            f"[10] z-order: {z.count()} orders keyed for 2-D pruning "
            f"(see tests/test_layout.py for the file-skip demonstration)"
        )

    # 11. curation tail: redact -> chunk -> pack -> decontaminate
    with _stage("11 curation tail"):
        pii = curation.pii_redact(spark, sf_dir)
        n_pii = pii.filter(
            (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0
        ).count()
        packs = curation.pack_sequences(spark, sf_dir)
        n_bins = packs.count()
        contam = curation.ngram_contamination(spark, sf_dir)
        worst = contam.agg(F.max("contaminated_share")).collect()[0][0]
        print(
            f"[11] curation: {n_pii} docs redacted, "
            f"{curation.chunk_windows(spark, sf_dir).count()} training "
            f"chunks packed into {n_bins} {curation.PACK_CAP}-token bins; "
            f"worst eval-doc trigram contamination {worst:.1%}"
        )

    # 12. perplexity gate + split + cardinality audit (late-round ops)
    with _stage("12 perplexity gate + split + cardinality audit"):
        sup = textops.bigram_surprisal(spark, sf_dir)
        lo = sup.orderBy(F.col("avg_surprisal").asc()).first()
        splits = {
            r.split_name: r.n_docs
            for r in curation.train_test_split(spark, sf_dir).collect()
        }
        hll = {
            r.column_name: (r.est_distinct, r.exact_distinct)
            for r in sketch.hll_distinct(spark, sf_dir).collect()
        }
        print(
            f"[12] surprisal gate: most-boilerplate doc {lo.doc_id} at "
            f"{lo.avg_surprisal:.2f} nats/bigram; split "
            f"{splits.get('train', 0)}/{splits.get('validation', 0)}"
            f"/{splits.get('test', 0)} train/val/test; HLL "
            + ", ".join(
                f"{c}~{int(e)} (exact {x})" for c, (e, x) in sorted(hll.items())
            )
        )

    # 13. round-4 ops: paragraph boilerplate, verbatim leakage, PCA
    with _stage("13 round-4 ops"):
        paras = dedup.dedup_paragraphs(spark, sf_dir)
        pstat = paras.agg(
            F.sum("n_paras").alias("p"),
            F.sum("n_dup_paras").alias("d"),
            F.sum("kept_tokens").alias("k"),
            F.sum("total_tokens").alias("t"),
        ).collect()[0]
        runs = curation.substring_contamination(spark, sf_dir)
        worst_run = runs.orderBy(
            F.col("longest_run_tokens").desc()
        ).first()
        from ingestprocessstoreinnrt_spark.operators import ml as mlops

        pca = mlops.pca_power(spark, sf_dir).collect()
        lam = pca[0].eigenvalue
        print(
            f"[13] paragraph dedup: {pstat.d}/{pstat.p} paragraphs are "
            f"boilerplate copies ({pstat.t - pstat.k} of {pstat.t} tokens "
            f"droppable); worst verbatim eval<-train run "
            f"{worst_run.longest_run_tokens} tokens (doc "
            f"{worst_run.doc_id} <- {worst_run.best_train_doc}); top PCA "
            f"eigenvalue {lam:.4f} (anisotropy gauge for the embedding "
            f"store)"
        )

    with _stage("14 round-9 compressed serving + span dedup"):
        from ingestprocessstoreinnrt_spark.operators import (
            similarity as sim,
        )

        served = sim.ivfpq_residual_search(spark, sf_dir)
        top1 = served.filter(F.col("rank") == 1).count()
        sq8 = sim.sq8_search(spark, sf_dir).filter(F.col("rank") == 1)
        spans = curation.dup_spans(spark, sf_dir)
        sstat = spans.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("span_words").alias("w"),
        ).collect()[0]
        print(
            f"[14] IVFADC serve answered {top1} queries from the "
            f"residual-encoded index (PQ_M bytes/vector in probed "
            f"cells); SQ8 tier agreed on {sq8.count()} top-1s; "
            f"ExactSubstr pass found {sstat.n} duplicated spans "
            f"covering {sstat.w} words to cut"
        )

    with _stage("15 streaming IVFADC ingest (round-10)"):
        import shutil
        import tempfile

        from ingestprocessstoreinnrt_spark.streaming import compact
        from ingestprocessstoreinnrt_spark.streaming.upsert import (
            UpsertTable,
        )

        # pinned artifacts (the vector index, built by stage 14's serve)
        rcdf = sim.rpq_codebook_row(spark, sf_dir)
        cdf = sim.coarse_row(spark, sf_dir)
        emb = fan_out(load_table(spark, sf_dir, "embeddings"))
        part = F.pmod(F.col("vec_id"), F.lit(8))
        tmp = tempfile.mkdtemp(prefix="demo_ivfadc_")
        try:  # a divergence assert must not leak the temp dir (ADVICE r10)
            table = UpsertTable(
                spark, tmp + "/index", ["vec_id"], num_buckets=4
            )
            table.init(
                sim.ivfadc_index_rows(emb.filter(part < 4), cdf, rcdf)
            )
            n_rows, t_ing, serves = 0, 0.0, []
            for b in range(4, 8):
                batch = emb.filter(part == b)
                t0 = time.perf_counter()
                table.upsert(sim.ivfadc_index_rows(batch, cdf, rcdf))
                t_ing += time.perf_counter() - t0
                n_rows += batch.count()
                if b == 5:  # one mid-stream OPTIMIZE under the same lock
                    compact.compact_upsert_table(table, target_bytes=10**9)
                serves.append(
                    sim.ivfadc_serve(emb, table.read(), cdf, rcdf)
                    .filter(F.col("rank") == 1)
                    .count()
                )
            final = sim.ivfadc_serve(emb, table.read(), cdf, rcdf)
            rebuilt = sim.ivfadc_serve(
                emb, sim.ivfadc_index_rows(emb, cdf, rcdf), cdf, rcdf
            )
            same = (
                final.exceptAll(rebuilt).count()
                + rebuilt.exceptAll(final).count()
            ) == 0
            print(
                f"[15] streamed {n_rows} embeddings through 4 "
                f"residual-encode upserts at "
                f"{n_rows / max(t_ing, 1e-9):.0f} rows/s, served top-1 for "
                f"{serves} queries between batches (one mid-stream "
                f"compaction); final maintained serve == rebuilt serve: "
                f"{same}"
            )
            assert same, "maintained IVFADC serve diverged from rebuilt"
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(s for _, s in _STAGES), 2)
    print(f"\nstage breakdown @ {sf_dir} (load_1m "
          f"{os.getloadavg()[0]:.2f}):")
    print("| stage | sec |")
    print("|---|---|")
    for label, sec in _STAGES:
        print(f"| {label} | {sec} |")
    print(f"| TOTAL | {total} |")
    spark.stop()
    print("llm pipeline demo complete")


if __name__ == "__main__":
    main(*(sys.argv[1:2] or []))
