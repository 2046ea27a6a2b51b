"""Corpus-curation operators: semantic contracts (the cross-engine
value equality is the driver oracle's job — the QUERIES oracles in
operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark import planmemo
from ingestprocessstoreinnrt_spark.operators import curation
from tests.conftest import SF_SMOKE


def test_pii_redaction_removes_every_match(spark):
    """Redacted text re-scanned with the same patterns yields ZERO
    matches — redaction is complete, not just counted."""
    docs = curation._with_synthetic_pii(
        curation.load_table(spark, SF_SMOKE, "documents")
    )
    red = F.regexp_replace(
        F.col("txt"), curation.PII_EMAIL, "<EMAIL>"
    )
    red = F.regexp_replace(red, curation.PII_PHONE, "<PHONE>")
    red = F.regexp_replace(red, curation.PII_IPV4, "<IP>")
    residue = docs.select(red.alias("red")).filter(
        (F.size(F.regexp_extract_all("red", F.lit(curation.PII_EMAIL), F.lit(0))) > 0)
        | (F.size(F.regexp_extract_all("red", F.lit(curation.PII_PHONE), F.lit(0))) > 0)
        | (F.size(F.regexp_extract_all("red", F.lit(curation.PII_IPV4), F.lit(0))) > 0)
    )
    assert residue.count() == 0


def test_pii_counts_match_grafted_rows(spark):
    rows = curation.pii_redact(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        m = r.doc_id % 5
        if m == 0:
            assert r.n_emails >= 1
        elif m == 1:
            assert r.n_phones >= 1
        elif m == 2:
            assert r.n_ips >= 1
        else:
            assert (r.n_emails, r.n_phones, r.n_ips) == (0, 0, 0)


def test_chunks_tile_documents_with_overlap(spark):
    """Per doc: chunk starts advance by exactly the stride, every chunk
    is full-size except possibly trailing ones, and the windows cover
    all n tokens (last chunk ends at the last token)."""
    chunks = curation.chunk_windows(spark, SF_SMOKE).collect()
    n_tokens = {
        r.doc_id: r.n_tokens
        for r in curation.repetition_stats(spark, SF_SMOKE).collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda r: r.chunk_idx)
        n = n_tokens[doc_id]
        assert [c.chunk_start for c in cs] == [
            i * curation.CHUNK_STRIDE for i in range(len(cs))
        ]
        for c in cs:
            expect = min(curation.CHUNK_TOKENS, n - c.chunk_start)
            assert c.n_chunk_tokens == expect
        last = cs[-1]
        assert last.chunk_start + last.n_chunk_tokens == n  # full cover
        assert last.chunk_start < n  # no empty trailing window


def test_repetition_stats_bounds(spark):
    rows = curation.repetition_stats(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_distinct <= r.n_tokens
        assert 0 < r.top_token_share <= 1
        assert r.top_token_share >= 1.0 / r.n_distinct
        assert abs(r.distinct_ratio - r.n_distinct / r.n_tokens) < 1e-12


def test_contamination_only_eval_docs_and_bounded(spark):
    rows = curation.ngram_contamination(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.doc_id % curation.EVAL_MOD == 0
        assert 0 <= r.n_contaminated <= r.n_grams
        assert abs(
            r.contaminated_share - r.n_contaminated / r.n_grams
        ) < 1e-12
    # the synthetic word-soup corpus shares trigram mass by construction:
    # a decontamination run that found zero overlap would be broken
    assert any(r.n_contaminated > 0 for r in rows)


def test_bpe_pairs_ranked_and_wellformed(spark):
    rows = sorted(
        curation.bpe_pair_counts(spark, SF_SMOKE).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, curation.BPE_TOPK + 1))
    assert all(len(r.pair) == 2 for r in rows)
    for a, b in zip(rows, rows[1:]):  # count desc, pair asc on ties
        assert (a.pair_count, b.pair) >= (b.pair_count, a.pair) or (
            a.pair_count > b.pair_count
        )
        assert a.pair_count >= b.pair_count


def test_mix_sources_rates_and_gates(spark):
    rows = curation.mix_weighted_sources(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        k = int(r.source[3:])
        assert r.accept_pct == (k % 5 + 1) * 20
        assert 0 <= r.n_selected <= r.n_total
        # deterministic hash gate tracks the target rate
        assert abs(r.n_selected / r.n_total - r.accept_pct / 100) < 0.25
    # a 100%-rate source keeps everything
    for r in rows:
        if r.accept_pct == 100:
            assert r.n_selected == r.n_total


def test_incremental_merge_equals_full_recompute(spark):
    """The IVM invariant inside one engine: base+delta merged partials
    == partials over the whole table, bit for bit (the driver oracle
    proves the same thing cross-engine)."""
    from ingestprocessstoreinnrt_spark.operators import incremental

    orders = incremental.load_table(spark, SF_SMOKE, "orders")
    full = {
        r.o_custkey: (r.n_orders, r.qsum)
        for r in incremental._partials(orders).collect()
    }
    merged = {
        r.o_custkey: r
        for r in incremental.incremental_customer_agg(
            spark, SF_SMOKE
        ).collect()
    }
    assert set(full) == set(merged)
    for k, (n, qsum) in full.items():
        m = merged[k]
        assert m.n_orders == n
        assert m.avg_totalprice == qsum / 10000.0 / n


def test_pack_sequences_conserves_tokens_and_orders_bins(spark):
    """Packing conserves the shard's token mass, bins are contiguous
    per source, and every bin except possibly the last holds >= the
    cap's worth of starting offset (contiguous concat-and-split)."""
    rows = curation.pack_sequences(spark, SF_SMOKE).collect()
    stats = {
        r.doc_id: r.n_tokens
        for r in curation.repetition_stats(spark, SF_SMOKE).collect()
    }
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    total_packed = sum(r.n_tokens for r in rows)
    assert total_packed == sum(stats.values())
    for src, bins in by_src.items():
        bins.sort(key=lambda r: r.bin)
        assert [b.bin for b in bins] == list(range(len(bins)))
        for b in bins:
            assert b.first_doc <= b.last_doc
            assert b.n_docs >= 1
        # doc ranges never overlap across consecutive bins
        for a, b in zip(bins, bins[1:]):
            assert a.last_doc < b.first_doc


def test_class_weights_inverse_frequency(spark):
    from ingestprocessstoreinnrt_spark.operators import ml

    rows = ml.class_weights(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    total = sum(r.n for r in rows)
    k = len(rows)
    for r in rows:
        assert abs(r.weight - round(total / (k * r.n), 6)) < 1e-9
    # weighted mass balances: sum(n * w) == total (within rounding)
    assert abs(sum(r.n * r.weight for r in rows) - total) < 1e-2 * total


def test_url_strip_removes_all_urls(spark):
    """Stripped text re-scanned with the URL pattern yields zero
    matches, and grafted docs report the expected domain."""
    rows = curation.url_strip(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        m = r.doc_id % 4
        if m == 0:
            assert r.n_urls >= 1
            assert r.first_domain.endswith(".example.org")
        elif m == 1:
            assert r.n_urls >= 1
            assert r.first_domain.endswith(".example-site.com")
        else:
            assert r.n_urls == 0 and r.first_domain == ""


def test_value_histogram_partitions_counts(spark):
    """Bin counts per event_type sum to the type's row count; bins are
    within range; bin_lo is monotone in bin."""
    from ingestprocessstoreinnrt_spark.operators import ml

    rows = ml.value_histogram(spark, SF_SMOKE).collect()
    ev = ml.load_table(spark, SF_SMOKE, "events")
    want = {
        r.event_type: r.c
        for r in ev.groupBy("event_type").agg(
            curation.F.count(curation.F.lit(1)).alias("c")
        ).collect()
    }
    by_type: dict = {}
    for r in rows:
        assert 0 <= r.bin < ml.HIST_BINS
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        assert sum(r.n for r in rs) == want[et]
        rs.sort(key=lambda r: r.bin)
        for a, b in zip(rs, rs[1:]):
            assert a.bin_lo < b.bin_lo


def test_train_split_partitions_and_stability(spark):
    """Splits are disjoint-exhaustive (counts sum to corpus, shares to
    1.0) and hash-gate STABLE: halving the corpus never reassigns a
    surviving document's split."""
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.functions.scalars import stable_hash64
    from ingestprocessstoreinnrt_spark.operators import curation
    from tests.conftest import SF_ORACLE

    rows = curation.train_test_split(spark, SF_ORACLE).collect()
    total = load_table(spark, SF_ORACLE, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    shares = {r.split_name: r.share for r in rows}
    assert set(shares) == {"train", "validation", "test"}
    assert shares["train"] > shares["validation"]
    assert shares["train"] > shares["test"]

    def members(df):
        b = stable_hash64(F.col("doc_id").cast("string")) % (
            curation.SPLIT_BUCKETS
        )
        tag = (
            F.when(b <= curation.SPLIT_TRAIN_MAX, "train")
            .when(b == curation.SPLIT_TRAIN_MAX + 1, "validation")
            .otherwise("test")
        )
        return {
            (r.doc_id, r.s)
            for r in df.select("doc_id", tag.alias("s")).collect()
        }

    docs = load_table(spark, SF_ORACLE, "documents")
    full = members(docs)
    half = members(docs.filter(F.col("doc_id") % 2 == 0))
    assert half <= full  # growth/shrink never reassigns


def test_bpe_train_matches_python_replay(spark):
    """The K-merge greedy loop must equal a pure-Python BPE replay over
    the same (word, count) vocabulary — proves the packed-string
    replace() merge IS greedy left-to-right non-overlapping BPE, not
    just that two engines share a quirk."""
    from collections import Counter

    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import curation
    from tests.conftest import SF_ORACLE

    docs = fan_out(load_table(spark, SF_ORACLE, "documents"))
    wf = {
        r.word: r.wc
        for r in curation._bpe_word_freq(docs).collect()
    }
    vocab = {tuple(w): c for w, c in wf.items()}
    expect = []
    for k in range(1, curation.BPE_MERGES + 1):
        counts = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((k, lhs, rhs, lhs + rhs, cnt))
        merged = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            merged[t] = merged.get(t, 0) + c
        vocab = merged
    got = [
        (r.merge_idx, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in curation.bpe_train(spark, SF_ORACLE).collect()
    ]
    assert got == expect


def test_bpe_batched_equals_sequential_on_disjoint_prefix(spark, tmp_path):
    """VERDICT r9 item 4 proof: on a corpus whose top pairs are
    pairwise symbol-disjoint and whose merges spawn no competitive
    derived pairs (two-char words collapse to single symbols), batched
    training must reproduce the SEQUENTIAL greedy merge list exactly —
    the correctness claim behind applying a whole batch per round."""
    from ingestprocessstoreinnrt_spark.operators import curation

    words = [("ab", 50), ("cd", 40), ("ef", 30), ("gh", 20), ("ij", 10)]
    text = " ".join(w for w, c in words for _ in range(c))
    spark.createDataFrame(
        [(0, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    seq = [
        (r.merge_idx, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in curation.bpe_train(spark, str(tmp_path)).collect()
    ]
    got = curation.bpe_train_batched(spark, str(tmp_path)).collect()
    bat = [
        (r.merge_idx, r.lhs, r.rhs, r.merged, r.pair_count) for r in got
    ]
    assert bat == seq
    # batch shape: round 1 carries BPE_BATCH_SIZE merges, round 2 the
    # single leftover pair
    assert [r.merge_round for r in got] == [1, 1, 1, 1, 2]
    assert bat[0] == (1, "a", "b", "ab", 50)
    assert bat[4] == (5, "i", "j", "ij", 10)


def test_bpe_batched_conflict_rule_defers_touching_pairs(spark, tmp_path):
    """A candidate sharing a symbol with a higher-ranked candidate must
    wait for the next round: with 'xy' dominant and 'yz' second, (y,z)
    conflicts with (x,y) and round 1 takes only (x,y) from that family;
    (y,z) merges in round 2 with its RE-COUNTED frequency."""
    from ingestprocessstoreinnrt_spark.operators import curation

    # "xyz"×30: pairs (x,y)=30, (y,z)=30 -> ranked (x,y) first (lhs
    # ASC tiebreak); (y,z) shares y -> deferred.  "pq"×20 is disjoint
    # and joins round 1.  After merging (x,y): word xyz = [xy, z], so
    # round 2 counts (xy, z)=30.
    text = " ".join(["xyz"] * 30 + ["pq"] * 20)
    spark.createDataFrame(
        [(0, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = [
        (r.merge_round, r.lhs, r.rhs, r.pair_count)
        for r in curation.bpe_train_batched(
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == [(1, "x", "y", 30), (1, "p", "q", 20),
                   (2, "xy", "z", 30)]


def test_bpe_batched_job_count_drop(spark):
    """The point of batching: BPE_MERGES merges in BPE_BATCH_ROUNDS
    pair-count rounds instead of one round per merge — measured as
    actual Spark job counts via job groups, not inferred."""
    from ingestprocessstoreinnrt_spark.operators import curation
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    sc.setJobGroup("bpe_seq_probe", "sequential BPE")
    curation.bpe_train(spark, SF_SMOKE).collect()
    sc.setJobGroup("bpe_bat_probe", "batched BPE")
    curation.bpe_train_batched(spark, SF_SMOKE).collect()
    sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    n_seq = len(tracker.getJobIdsForGroup("bpe_seq_probe"))
    n_bat = len(tracker.getJobIdsForGroup("bpe_bat_probe"))
    assert n_seq > 0 and n_bat > 0
    # 8 count+apply rounds vs 2: at least a 2x drop end-to-end even
    # with the shared corpus-wordcount jobs amortized in
    assert n_bat * 2 <= n_seq, (n_seq, n_bat)


def test_bpe_encode_matches_python_replay(spark):
    """Per-doc BPE token counts must equal applying the replayed greedy
    merges to every word (single-char words = 1 symbol)."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import curation
    from tests.conftest import SF_ORACLE

    merges = [
        (r.lhs, r.rhs)
        for r in curation.bpe_train(spark, SF_ORACLE).collect()
    ]

    def encode(word):
        syms = list(word)
        for lhs, rhs in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_ORACLE, "documents").collect()
        if r.text.strip()
    }
    cache: dict[str, int] = {}
    expect = {}
    for did, text in docs.items():
        toks = text.strip().lower().split()
        nb = 0
        for w in toks:
            if w not in cache:
                cache[w] = encode(w) if len(w) >= 2 else 1
            nb += cache[w]
        expect[did] = (len(toks), sum(len(w) for w in toks), nb)
    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
        for r in curation.bpe_encode(spark, SF_ORACLE).collect()
    }
    assert got == expect


def test_remove_repetition_python_replay(spark):
    """Conservation: the rebuilt text md5 matches an independent
    Python replay of the keep-first span policy, and token counts
    conserve (clean + dropped span tokens == original tokens)."""
    import hashlib

    got = {
        r.doc_id: r
        for r in curation.remove_repetition(spark, SF_SMOKE).collect()
    }
    docs = curation.load_table(spark, SF_SMOKE, "documents").collect()
    n_checked = n_docs_with_drops = 0
    for d in docs:
        toks = d.text.split()
        if not toks:
            assert d.doc_id not in got
            continue
        spans = [
            " ".join(toks[i : i + curation.REP_SPAN])
            for i in range(0, len(toks), curation.REP_SPAN)
        ]
        seen: set[str] = set()
        kept = []
        for s in spans:
            if s in seen:
                continue
            seen.add(s)
            kept.append(s)
        clean = " ".join(kept)
        r = got[d.doc_id]
        assert r.n_spans == len(spans)
        assert r.n_dropped == len(spans) - len(kept)
        assert r.clean_tokens == len(clean.split()) if clean else 0
        assert r.clean_md5 == hashlib.md5(clean.encode()).hexdigest()
        # token conservation
        dropped_toks = sum(
            len(s.split()) for s in spans
        ) - sum(len(s.split()) for s in kept)
        assert r.clean_tokens + dropped_toks == len(toks)
        n_checked += 1
        n_docs_with_drops += r.n_dropped > 0
    assert n_checked > 0


def test_strip_boilerplate_agrees_with_dedup_paragraphs(spark):
    """Compositional conservation: the rewrite drops EXACTLY the
    occurrences dedup_paragraphs diagnoses (same n_dup_paras, same
    kept_tokens), and at least one doc actually loses a paragraph."""
    from ingestprocessstoreinnrt_spark.operators import dedup

    diag = {
        r.doc_id: r
        for r in dedup.dedup_paragraphs(spark, SF_SMOKE).collect()
    }
    rewrite = curation.strip_boilerplate(spark, SF_SMOKE).collect()
    assert set(diag) == {r.doc_id for r in rewrite}
    any_dropped = False
    for r in rewrite:
        d = diag[r.doc_id]
        assert r.n_paras == d.n_paras
        assert r.n_dropped == d.n_dup_paras
        assert r.kept_tokens == d.kept_tokens
        any_dropped |= r.n_dropped > 0
    assert any_dropped


def test_dup_spans_exact_boundaries(spark, tmp_path):
    """ExactSubstr-style span semantics on a constructed corpus: two
    docs share an exact 12-word span (>= the 10-word gate), a third is
    unique, and a fourth repeats a span WITHIN itself — spans land at
    the exact word offsets, the unique doc emits nothing."""
    from ingestprocessstoreinnrt_spark.operators import curation

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    docs = [
        # doc 0: shared span at word 4 (3 unique words before it)
        (0, "u0a u0b u0c " + shared + " t0x t0y", "s"),
        # doc 1: same span at word 1
        (1, shared + " u1a u1b u1c u1d", "s"),
        # doc 2: fully unique
        (2, "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14", "s"),
        # doc 3: repeats ITS OWN 12-word block back to back
        (3, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 "
            "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", "s"),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.doc_id, r.span_start, r.n_grams, r.span_words)
        for r in curation.dup_spans(spark, str(tmp_path)).collect()
    }
    # 12 shared words = 5 duplicated 8-gram starts; span_words = 12
    assert (0, 4, 5, 12) in got
    assert (1, 1, 5, 12) in got
    assert not any(d == 2 for d, *_ in got)
    # doc 3: grams starting at 1..5 recur at 13..17; grams 6..12 span
    # the seam (w5..w11 w0.. etc) and are unique -> two runs of 5
    assert (3, 1, 5, 12) in got and (3, 13, 5, 12) in got
    assert len([g for g in got if g[0] == 3]) == 2


def test_run_bpe_memo_hits_and_stays_correct(spark, monkeypatch):
    """The fitted-tokenizer memo (r13): a second _run_bpe call for the
    same (app, corpus) returns the memoized fit without re-running the
    merge loop, and the memoized merges are the ones bpe_train
    declares; a different corpus key misses independently."""
    from tests.conftest import SF_ORACLE, SF_SMOKE

    fits = []
    init = curation._bpe_init_vocab
    monkeypatch.setattr(
        curation, "_bpe_init_vocab", lambda d: fits.append(1) or init(d)
    )
    planmemo.clear()
    m1, v1 = curation._run_bpe(spark, SF_ORACLE)
    assert len(fits) == 1
    m2, v2 = curation._run_bpe(spark, SF_ORACLE)
    assert m2 is m1 and v2 is v1  # memo hit, not a re-fit
    assert len(fits) == 1
    got = [
        (r.merge_idx, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in curation.bpe_train(spark, SF_ORACLE).collect()
    ]
    assert got == sorted(m1)  # the declared result IS the memoized fit
    m3, _ = curation._run_bpe(spark, SF_SMOKE)
    assert len(fits) == 2  # distinct corpus, distinct key
    assert m3 != m1 or m3 == m1  # smoke fit computed (no raise)
    planmemo.clear()
