"""LLM-data-pipeline operators: oracle parity (delegated to the shared
compare), ANN recall vs the exact baseline, multimodal stub contract."""

from __future__ import annotations

import pytest

from ingestprocessstoreinnrt_spark.operators import dedup, multimodal, similarity
from tests.conftest import SF_ORACLE
from tests.test_bi import _compare


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "dedup_paragraphs",
        "curation_substr_contamination",
        "dedup_jaccard_pairs",
        "dedup_jaccard_full",
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_neardup",
        "sim_topk_cosine",
        "sim_ann_ivf",
        "text_stats",
        "text_langid",
        "text_fingerprint",
        "text_bm25",
        "sketch_kmv_distinct",
        "pipeline_curated_corpus",
        "sample_stratified",
        "multimodal_decode",
    ],
)
def test_llm_query_matches_oracle(spark, duck, name):
    _compare(spark, duck, name)


def test_minhash_recall_vs_exact(spark):
    """LSH candidates must recover the large majority of true >=t pairs
    (theory: ~0.96 at j=0.95 with B=3,R=8) — and never emit a pair below
    threshold (verification step makes precision exact)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(spark, SF_ORACLE).collect()
    }
    # restrict lsh result to the same sampled universe for comparison
    lsh_all = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, SF_ORACLE).collect()
    }
    lsh = {
        p for p in lsh_all if p[0] % dedup._SAMPLE_MOD == 0 and p[1] % dedup._SAMPLE_MOD == 0
    }
    assert all(j >= dedup.JACCARD_THRESHOLD for j in lsh_all.values())
    assert lsh <= exact  # no false positives after verification
    recall = len(lsh & exact) / max(1, len(exact))
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low"


def test_keep_longest_lsh_recall_vs_exact(spark):
    """The production survivorship path (keep-longest over LSH pairs)
    must recover nearly all docs the exact path drops: recall of its
    dropped-doc set vs the exact path's >= the measured ~0.97 LSH pair
    recall (minus clustering slack), and every cluster's survivor must
    be a doc the exact path also keeps as survivor OR a doc the exact
    path never flagged at all (LSH only MISSES pairs — it cannot invent
    them, so its clusters are sub-clusters of exact ones)."""
    exact_rows = dedup.dedup_keep_longest(spark, SF_ORACLE).collect()
    lsh_rows = dedup.dedup_keep_longest_lsh(spark, SF_ORACLE).collect()
    # dropped docs: all labelled docs minus survivors
    exact_lab = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(
            dedup.jaccard_pairs_full(spark, SF_ORACLE).select(
                "doc_a", "doc_b"
            )
        ).collect()
    }
    lsh_lab = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(
            dedup.minhash_lsh_pairs(spark, SF_ORACLE).select(
                "doc_a", "doc_b"
            )
        ).collect()
    }
    exact_drop = set(exact_lab) - {r.survivor_doc_id for r in exact_rows}
    lsh_drop = set(lsh_lab) - {r.survivor_doc_id for r in lsh_rows}
    # LSH never invents pairs -> every LSH-dropped doc is exact-dropped
    assert lsh_drop <= exact_drop
    recall = len(lsh_drop) / max(1, len(exact_drop))
    assert recall >= 0.9, f"LSH survivorship recall {recall:.3f}"


def test_incremental_dedup_batch_union_equals_whole_corpus(spark, tmp_path):
    """VERDICT r6 item 3 equivalence proof: running the corpus through
    incremental_lsh_verdicts in 3 sequential batches — each judged
    against the UpsertTable-persisted signature index of everything
    ingested before it — yields EXACTLY the whole-corpus LSH pair set,
    each pair found exactly once (no batch overlap, no misses)."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")
    d = dedup._token_frame(docs)
    sig_table = UpsertTable(
        spark, str(tmp_path / "sigs"), ["doc_id", "band"], num_buckets=4
    )
    tok_table = UpsertTable(
        spark, str(tmp_path / "toks"), ["doc_id"], num_buckets=4
    )
    got: dict = {}
    for i in range(3):
        part = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        index = (
            sig_table.read()
            if sig_table.exists()
            else dedup._band_frame(part).filter(F.lit(False))
        )
        known = (
            tok_table.read().unionByName(part)
            if tok_table.exists()
            else part
        )
        verdicts = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.incremental_lsh_verdicts(
                part, index, known
            ).collect()
        }
        assert not (set(verdicts) & set(got)), "pair found twice"
        got.update(verdicts)
        # ingest the batch into the persisted index (the foreachBatch
        # upsert pattern, batch mode)
        sig_table.upsert(dedup._band_frame(part))
        tok_table.upsert(part)
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, SF_ORACLE).collect()
    }
    assert got == want  # exact jaccard equality: same expression


def test_salted_pair_join_matches_plain_join(spark):
    """The mega-bucket guard must be lossless: a keyed frame with one
    degenerate 120-row bucket (cap=10 -> 12-way salt split) and several
    normal buckets yields exactly the pair set an unsalted self-join
    would — every in-bucket pair once, nothing across buckets."""
    rows = [(i, "hot") for i in range(120)] + [
        (1000 + i, f"cold{i % 3}") for i in range(12)
    ]
    keyed = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup._salted_self_join_pairs(
            keyed, ["key"], cap=10
        ).collect()
    }
    by_key: dict = {}
    for i, k in rows:
        by_key.setdefault(k, []).append(i)
    want = {
        (a, b)
        for ids in by_key.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert got == want


def test_salted_pair_join_respects_extra_predicate(spark):
    """Non-equi side conditions (length blocking) survive the salting."""
    import pyspark.sql.functions as F

    rows = [(i, "k", i % 4) for i in range(40)]
    keyed = spark.createDataFrame(rows, "doc_id long, key string, n int")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup._salted_self_join_pairs(
            keyed,
            ["key"],
            cap=5,
            extra=F.col("x.n") == F.col("y.n"),
        ).collect()
    }
    want = {
        (a, b)
        for a in range(40)
        for b in range(40)
        if a < b and a % 4 == b % 4
    }
    assert got == want


def test_kmv_sketch_error_and_partition_invariance(spark):
    """KMV estimate is within theory's ~1/sqrt(k) error band and is a
    set property — repartitioning the input cannot change it."""
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.functions.scalars import stable_hash64
    from ingestprocessstoreinnrt_spark.operators import sketch

    r = sketch.kmv_distinct_customers(spark, SF_ORACLE).collect()[0]
    assert r.k_eff == sketch.KMV_K
    err = abs(r.approx_distinct - r.exact_distinct) / r.exact_distinct
    assert err < 4.0 / (sketch.KMV_K ** 0.5)  # ~4 sigma

    h = (
        load_table(spark, SF_ORACLE, "orders")
        .select(stable_hash64(F.col("o_custkey").cast("string")).alias("h"))
    )
    a = sorted(
        x.h for x in sketch.kmv_partials(h.repartition(3)).distinct()
        .orderBy("h").limit(sketch.KMV_K).collect()
    )
    b = sorted(
        x.h for x in sketch.kmv_partials(h.repartition(17)).distinct()
        .orderBy("h").limit(sketch.KMV_K).collect()
    )
    assert a == b  # k smallest distinct hashes: partitioning-independent


def test_connected_components_exact(spark):
    """Label propagation finds exact components: a 5-chain, a triangle,
    and an isolated pair — min id wins, chains converge across passes."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),  # chain: rep 1
         (10, 11), (11, 12), (10, 12),    # triangle: rep 10
         (20, 21)],                        # pair: rep 20
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_paths_agree(spark):
    """The driver union-find short-circuit and the distributed
    label-propagation loop compute the identical fixpoint — same rows,
    same reps — on a graph with chains, cycles, and singleton pairs."""
    import random

    rng = random.Random(7)
    edges = {(i, i + 1) for i in range(0, 40, 1) if i % 7}  # broken chains
    edges |= {(rng.randrange(50), rng.randrange(50, 100)) for _ in range(60)}
    pairs = spark.createDataFrame(
        sorted((min(a, b), max(a, b)) for a, b in edges if a != b),
        "doc_a long, doc_b long",
    )
    small = sorted(
        (r.doc_id, r.cluster_rep)
        for r in dedup.connected_components(pairs).collect()
    )
    dist = sorted(
        (r.doc_id, r.cluster_rep)
        for r in dedup.connected_components(
            pairs, small_graph_max=0
        ).collect()
    )
    assert small == dist and len(small) > 0


def test_dedup_clusters_cover_their_pairs(spark):
    """Every near-dup pair lands in one cluster, reps are members."""
    reps = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_clusters(spark, SF_ORACLE).collect()
    }
    pairs = dedup.jaccard_pairs(spark, SF_ORACLE).collect()
    assert len(pairs) > 0
    for p in pairs:
        assert reps[p.doc_a] == reps[p.doc_b]
    for doc, rep in reps.items():
        assert reps[rep] == rep  # representative is its own rep
        assert rep <= doc


def test_ann_lsh_subset_of_bruteforce_universe(spark):
    """Approximate top-k returns ranked, deduplicated neighbors from the
    query's bucket, and its hits agree with brute-force cosines."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in similarity.ann_topk_cosine(spark, SF_ORACLE).collect()
    }
    approx = similarity.ann_lsh_topk(spark, SF_ORACLE).collect()
    assert len(approx) > 0
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.cos_sim


def test_ann_ivf_agrees_with_bruteforce(spark):
    """IVF probe results: ranked, per-query, and every hit's cosine
    agrees with the brute-force baseline; full recall measured."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in similarity.ann_topk_cosine(spark, SF_ORACLE).collect()
    }
    approx = similarity.ann_ivf_topk(spark, SF_ORACLE).collect()
    assert len(approx) > 0
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r.rank)
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.cos_sim
    for ranks in per_q.values():  # dense ranks from 1 per query
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    hits = sum((k in exact) for k in {(r.query_id, r.vec_id) for r in approx})
    recall = hits / len(exact)
    assert 0.0 <= recall <= 1.0  # recorded, corpus-dependent
    print(f"ivf recall vs exact top-k: {recall:.3f}")


def test_ann_ivf_multiprobe_recall(spark):
    """The recall-tier IVF path (VERDICT r6 item 4) must recover >=
    0.95 of the brute-force top-k on this corpus (measured 0.95 at
    nprobe=6 — the calibration story lives at IVF_NPROBE_MULTI's
    definition), with every hit's cosine agreeing exactly."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in similarity.ann_topk_cosine(spark, SF_ORACLE).collect()
    }
    approx = similarity.ann_ivf_multiprobe(spark, SF_ORACLE).collect()
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.cos_sim
    hits = {(r.query_id, r.vec_id) for r in approx} & set(exact)
    recall = len(hits) / len(exact)
    assert recall >= 0.95, f"multiprobe recall {recall:.3f} < 0.95"


def test_winnowing_shared_run_guarantee(spark, tmp_path):
    """The winnowing paper's core guarantee: two documents sharing a
    token run of length >= K + W - 1 must share at least one SELECTED
    fingerprint, no matter how different the rest of the text is."""
    from ingestprocessstoreinnrt_spark.operators import textops

    k, w = textops.WINNOW_K, textops.WINNOW_W
    shared = " ".join(f"run{i}" for i in range(k + w - 1))
    rows = [
        (0, "alpha beta gamma " + shared + " delta epsilon zeta", "en", "a"),
        (1, "one two three four " + shared + " five six", "en", "b"),
        (2, "totally unrelated words that never overlap at all here "
            "more filler tokens again", "en", "c"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = textops.text_winnowing(spark, str(tmp_path)).collect()
    fps = {}
    for r in got:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1], "shared run selected no common fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_multimodal_fake_decode_contract(spark):
    media = multimodal.media_from_documents(spark, SF_ORACLE)
    assert [f.name for f in media.schema.fields] == [
        "media_id",
        "payload",
        "media_type",
        "source",
    ]
    decoded = multimodal.decode_media(media, use_deterministic_fake=True)
    assert decoded.schema == multimodal.DECODED_SCHEMA
    row = decoded.first()
    assert row.byte_len > 0 and len(row.content_md5_8) == 8
    assert 1 <= row.fake_width <= 1920 and 1 <= row.fake_height <= 1080


def _wav_bytes(rate=8000, freq=440, ms=250):
    """A real 16-bit mono PCM WAV, synthesized with the stdlib."""
    import io
    import math
    import struct
    import wave

    n = rate * ms // 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<h", int(16000 * math.sin(2 * math.pi * freq * i / rate))
            )
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def _png_bytes(width=320, height=200):
    """A real PNG signature + IHDR (header-parseable)."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk))
    )


def test_multimodal_real_decode(spark):
    """The real decode path: stdlib WAV decode, pure-Python image header
    parse, error routing for unrecognized payloads."""
    import struct

    wav = _wav_bytes(rate=8000, ms=250)
    png = _png_bytes(320, 200)
    gif = b"GIF89a" + struct.pack("<HH", 64, 48) + b"\x00" * 8
    bmp = (
        b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 8
    )
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 17)  # SOF0, segment length
        + b"\x08" + struct.pack(">HH", 240, 360)  # precision, h, w
        + b"\x03" + b"\x00" * 9
        + b"\xff\xd9"
    )
    rows = [
        (1, bytearray(wav), "audio", "t"),
        (2, bytearray(png), "image", "t"),
        (3, bytearray(gif), "image", "t"),
        (4, bytearray(bmp), "image", "t"),
        (5, bytearray(jpeg), "image", "t"),
        (6, bytearray(b"not media at all"), "image", "t"),
        (7, bytearray(b"RIFF\x00\x00\x00\x00WAVEtrunc"), "audio", "t"),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.decode_media(media).collect()}
    assert len(got) == 7

    w = got[1]
    assert w.container == "wav"
    assert w.channels == 1 and w.sample_rate_hz == 8000
    assert w.n_frames == 2000 and abs(w.duration_ms - 250.0) < 1e-9
    assert w.rms_amplitude > 10000  # full-ish amplitude sine
    assert w.decode_error is None and w.width is None

    assert (got[2].width, got[2].height) == (320, 200)
    assert (got[3].width, got[3].height) == (64, 48)
    assert (got[4].width, got[4].height) == (100, 50)  # top-down DIB abs()
    assert (got[5].width, got[5].height) == (360, 240)
    for mid in (2, 3, 4, 5):
        assert got[mid].decode_error is None
        # pixel stats only when PIL is importable (probed at runtime)
        if multimodal._probe_pil() is None:
            assert got[mid].pixel_mean is None

    assert got[6].container == "unknown"
    assert got[6].decode_error == "unrecognized container"
    assert got[7].container == "wav" and got[7].decode_error is not None


def test_multimodal_pixel_mean_with_pil(spark):
    """Full pixel decode (lights up automatically if PIL appears in the
    environment): a hand-crafted 2x2 24bpp BMP whose ITU-R 601 luma
    mean is exactly 67.0."""
    import pytest
    import struct

    if multimodal._probe_pil() is None:
        pytest.skip("PIL not installed in this environment")

    # bottom-up rows, BGR, 4-byte row padding
    row0 = bytes([10, 20, 30, 40, 50, 60]) + b"\x00\x00"
    row1 = bytes([70, 80, 90, 100, 110, 120]) + b"\x00\x00"
    px = row0 + row1
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + dib
        + px
    )
    media = spark.createDataFrame(
        [(1, bytearray(bmp), "image", "t")],
        schema=multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.decode_media(media).collect()[0]
    assert (r.width, r.height) == (2, 2)
    assert r.decode_error is None
    assert r.pixel_mean is not None
    assert abs(r.pixel_mean - 67.0) <= 1.0


def test_sample_quantiles_track_exact(spark):
    """Monotone estimates whose error vs the exact nearest-rank
    quantile stays inside the k-sample band (~2/sqrt(k) of the value
    spread at these quantiles)."""
    from ingestprocessstoreinnrt_spark.operators import sketch
    from tests.conftest import SF_SMOKE

    rows = {
        r.quantile: r
        for r in sketch.sample_quantiles(spark, SF_SMOKE).collect()
    }
    assert sorted(rows) == sorted(sketch.SQ_QUANTS)
    assert all(r.k_eff == sketch.SQ_K for r in rows.values())
    ests = [rows[q].est_value for q in sorted(rows)]
    assert ests == sorted(ests)  # p50 <= p90 <= p99

    vals = sorted(
        r.value
        for r in sketch.load_table(spark, SF_SMOKE, "events")
        .select("value")
        .collect()
    )
    spread = vals[-1] - vals[0]
    for q, r in rows.items():
        exact = vals[int(q / 100.0 * (len(vals) - 1))]
        assert abs(r.est_value - exact) <= 0.15 * spread, (q, r, exact)


def test_hll_error_bands_and_branches(spark):
    """HLL(p=10) lands inside the ~1.04/sqrt(m) theory band on the
    raw branch and the linear-counting band on the small branch, and
    the two probe columns really exercise BOTH branches."""
    from ingestprocessstoreinnrt_spark.operators import sketch

    rows = {
        r.column_name: r
        for r in sketch.hll_distinct(spark, SF_ORACLE).collect()
    }
    big, small = rows["event_id"], rows["user_id"]
    # raw branch: every register hit, no correction possible
    assert big.zero_registers == 0
    err = abs(big.est_distinct - big.exact_distinct) / big.exact_distinct
    assert err < 4 * 1.04 / (sketch.HLL_M ** 0.5)  # ~4 sigma
    # linear-counting branch: most registers empty
    assert small.zero_registers > sketch.HLL_M // 2
    serr = abs(small.est_distinct - small.exact_distinct) / max(
        small.exact_distinct, 1
    )
    assert serr < 0.10
    for r in rows.values():
        assert 0 <= r.hit_registers <= sketch.HLL_M
        assert r.hit_registers + r.zero_registers == sketch.HLL_M


def test_hll_is_partition_invariant_and_mergeable(spark):
    """Registers are (j, max rho) — a set property: repartitioning
    can't move the estimate, and the sketch of a union equals the
    elementwise max of the parts' registers (the merge HLL ships)."""
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import sketch

    ev = load_table(spark, SF_ORACLE, "events")
    a = sketch._hll_frame(ev.repartition(3), "event_id").collect()[0]
    b = sketch._hll_frame(ev.repartition(17), "event_id").collect()[0]
    assert a == b

    def regs(df):
        out = sketch.hll_registers(df, "event_id")
        return {row.j: row.r for row in out.collect()}

    odd = regs(ev.filter(F.col("event_id") % 2 == 1))
    even = regs(ev.filter(F.col("event_id") % 2 == 0))
    merged = {
        j: max(odd.get(j, 0), even.get(j, 0)) for j in set(odd) | set(even)
    }
    assert merged == regs(ev)


def test_bigram_lm_matches_brute_force(spark):
    """Distributed bigram counts equal a Python replay of the same
    tokenization, and conditional probabilities are coherent."""
    from ingestprocessstoreinnrt_spark.operators import textops
    from tests.conftest import SF_SMOKE

    got = sorted(
        textops.bigram_lm(spark, SF_SMOKE).collect(), key=lambda r: r.rank
    )
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    pairs: dict = {}
    prefix: dict = {}
    for d in docs:
        toks = d.text.strip().lower().split()
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
            prefix[a] = prefix.get(a, 0) + 1
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[
        : textops.BIGRAM_TOPK
    ]
    assert [((r.w1, r.w2), r.n_pair) for r in got] == want
    for r in got:
        assert r.n_prefix == prefix[r.w1]
        assert 0.0 < r.p_cond <= 1.0
        assert abs(r.p_cond - r.n_pair / r.n_prefix) < 1e-15


def test_bigram_surprisal_matches_python_model(spark):
    """Per-doc surprisal equals a Python replay of the self-trained
    bigram model (same quantization), and repetition lowers it."""
    import math

    from ingestprocessstoreinnrt_spark.operators import textops
    from tests.conftest import SF_SMOKE

    got = {
        r.doc_id: r
        for r in textops.bigram_surprisal(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    pairs: dict = {}
    prefix: dict = {}
    toks_by_doc = {}
    for d in docs:
        toks = d.text.strip().lower().split()
        if len(toks) < 2:
            continue
        toks_by_doc[d.doc_id] = toks
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
            prefix[a] = prefix.get(a, 0) + 1
    assert set(got) == set(toks_by_doc)
    for doc_id, toks in toks_by_doc.items():
        sq = 0
        n = 0
        for a, b in zip(toks, toks[1:]):
            p = pairs[(a, b)] / prefix[a]
            sq += math.floor(-math.log(p) * 1e9 + 0.5)
            n += 1
        r = got[doc_id]
        assert r.n_bigrams == n
        assert abs(r.avg_surprisal - sq / 1e9 / n) < 1e-12
        assert r.avg_surprisal >= 0.0


def test_knn_eval_matches_brute_force(spark):
    """LOO 1-NN replay in numpy with the same 6dp-round + id
    tie-break chooses identical neighbors."""
    import numpy as np

    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    rows = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    per_label: dict = {}
    for pid in vecs:
        if pid % sim.KNN_PROBE_MOD or pid >= sim._KNN_ID_CAP:
            continue
        best = None
        pv = vecs[pid]
        pn = np.sqrt((pv * pv).sum())
        for vid, v in vecs.items():
            if vid == pid:
                continue
            c = round(float(pv @ v / (pn * np.sqrt((v * v).sum()))), 6)
            k = (-c, vid)
            if best is None or k < best[0]:
                best = (k, vid)
        nlabel = labels[best[1]]
        st = per_label.setdefault(labels[pid], [0, 0])
        st[0] += 1
        st[1] += int(nlabel == labels[pid])
    got = {
        r.label: (r.n_probes, r.n_correct)
        for r in sim.knn_label_eval(spark, SF_ORACLE).collect()
    }
    want = {lb: (n, c) for lb, (n, c) in per_label.items()}
    assert got == want


def test_substring_contamination_matches_bruteforce(spark):
    """Diagonal-run formulation == classic O(n*m) DP longest common
    substring, checked doc-by-doc over the whole sf0.01 corpus."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import curation

    rows = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    ).collect()
    toks = {
        r.doc_id: r.text.strip().lower().split() for r in rows if r.text
    }
    ev = sorted(d for d in toks if d % curation.EVAL_MOD == 0)
    tr = sorted(d for d in toks if d % curation.EVAL_MOD != 0)

    def lcs_run(a, b):
        best = 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    if cur[j] > best:
                        best = cur[j]
            prev = cur
        return best

    expected = {}
    for e in ev:
        runs = {t: lcs_run(toks[e], toks[t]) for t in tr}
        best = max(runs.values(), default=0)
        if best < curation.CONTAM_N:
            expected[e] = (0, None, 0)
        else:
            arg = min(t for t, r in runs.items() if r == best)
            nhit = sum(1 for r in runs.values() if r >= curation.CONTAM_N)
            expected[e] = (best, arg, nhit)

    got = {
        r.doc_id: (r.longest_run_tokens, r.best_train_doc, r.n_train_docs)
        for r in curation.substring_contamination(
            spark, SF_ORACLE
        ).collect()
    }
    assert got == expected


def test_paragraph_dedup_constructed_duplicates(spark, tmp_path):
    """Three docs: B repeats A's first paragraph verbatim, C is unique.
    The canonical copy stays in A; B's copy (and only it) is dup."""
    para1 = " ".join(f"w{i}" for i in range(dedup.PARA_TOKENS))
    para2 = " ".join(f"x{i}" for i in range(dedup.PARA_TOKENS))
    para3 = " ".join(f"y{i}" for i in range(dedup.PARA_TOKENS))
    docs = spark.createDataFrame(
        [
            (1, f"{para1} {para2}", "en", "web", 0),
            (2, f"{para1} {para3}", "en", "web", 0),
            (3, f"{para3}", "en", "web", 0),  # dup of doc2's 2nd para
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in dedup.dedup_paragraphs(spark, str(tmp_path)).collect()
    }
    assert out[1].n_dup_paras == 0 and out[1].n_paras == 2
    assert out[2].n_dup_paras == 1  # para1 canonical lives in doc 1
    assert out[3].n_dup_paras == 1  # para3 canonical lives in doc 2
    assert out[1].kept_tokens == out[1].total_tokens == 2 * dedup.PARA_TOKENS
    assert out[2].kept_tokens == dedup.PARA_TOKENS
    # token conservation: kept + dropped == total
    for r in out.values():
        assert r.total_tokens >= r.kept_tokens
        assert abs(r.dup_ratio - r.n_dup_paras / r.n_paras) < 1e-9


def test_paragraph_dedup_conserves_corpus(spark):
    """Corpus-level invariants at sf0.01: paragraph counts tile the
    token stream; exactly one canonical copy survives per distinct
    paragraph hash."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    import pyspark.sql.functions as F

    out = dedup.dedup_paragraphs(spark, SF_ORACLE)
    agg = out.agg(
        F.sum("n_paras").alias("paras"),
        F.sum("n_dup_paras").alias("dups"),
        F.sum("total_tokens").alias("tok"),
    ).collect()[0]
    paras = dedup._para_frame(
        load_table(spark, SF_ORACLE, "documents")
    )
    assert agg.paras == paras.count()
    assert agg.tok == paras.agg(F.sum("n_tok")).collect()[0][0]
    # survivors == distinct paragraph hashes
    n_distinct = paras.select("para_hash").distinct().count()
    assert agg.paras - agg.dups == n_distinct


def test_pca_power_matches_numpy_eigendecomposition(spark):
    """The quantized power iteration lands on numpy's top eigenpair of
    the exact covariance matrix (up to sign and quantization)."""
    import numpy as np

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import ml

    rows = ml.pca_power(spark, SF_ORACLE).collect()
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.component)])
    lam = rows[0].eigenvalue
    emb = np.array([
        r.embedding
        for r in load_table(spark, SF_ORACLE, "embeddings").collect()
    ])
    cov = np.cov(emb, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    if np.dot(top, v) < 0:
        top = -top
    assert abs(lam - w[-1]) < 1e-3
    assert np.linalg.norm(v - top) < 1e-2
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3


def test_rake_keywords_matches_bruteforce(spark):
    """Pure-Python RAKE (phrase split at stopwords, word score =
    corpus degree/freq, phrase score = sum of member scores) must agree
    with the windowed implementation on every document."""
    from collections import defaultdict

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import textops
    from tests.conftest import SF_ORACLE

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_ORACLE, "documents").collect()
        if r.text.strip()
    }
    stop = set(textops._RAKE_STOP)
    phrases_by_doc: dict[int, list] = {}
    freq: dict[str, int] = defaultdict(int)
    deg: dict[str, int] = defaultdict(int)
    for did, text in docs.items():
        toks = text.strip().lower().split()
        cur, out = [], []
        for i, t in enumerate(toks):
            if t in stop:
                if cur:
                    out.append(cur)
                cur = []
            else:
                cur.append((i, t))
        if cur:
            out.append(cur)
        phrases_by_doc[did] = out
        for ph in out:
            for _, t in ph:
                freq[t] += 1
                deg[t] += len(ph)
    expect = {}
    for did, phs in phrases_by_doc.items():
        if not phs:
            continue
        best = None
        for ph in phs:
            sq = sum(
                int((deg[t] / freq[t]) * 1e6 + 0.5) for _, t in ph
            )
            key = (-sq, ph[0][0])
            if best is None or key < best[0]:
                best = (key, ph, sq)
        expect[did] = (
            " ".join(t for _, t in best[1]),
            round(best[2] / 1e6, 6),
            len(phs),
        )
    got = {
        r.doc_id: (r.top_phrase, r.phrase_score, r.n_phrases)
        for r in textops.rake_keywords(spark, SF_ORACLE).collect()
    }
    assert got == expect


def test_fuzzy_names_matches_python_dp(spark):
    """Both engines' levenshtein must be the classic unit-cost DP; the
    blocked join must emit exactly the brute-force in-block pairs."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators.dedup import (
        FUZZY_D,
        fuzzy_name_pairs,
    )

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    names = {}
    for r in load_table(spark, SF_ORACLE, "part").collect():
        names[r.p_name] = names.get(r.p_name, 0) + 1
    want = set()
    for a in names:
        for b in names:
            if a < b and a.split()[-1] == b.split()[-1]:
                d = lev(a.split()[0], b.split()[0])
                if d <= FUZZY_D:
                    want.add((a, b, d, names[a], names[b]))
    got = {
        (r.name_a, r.name_b, r.dist, r.n_parts_a, r.n_parts_b)
        for r in fuzzy_name_pairs(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_semantic_dedup_recall_precision(spark):
    """SemDeDup vs the exact all-pairs cosine baseline and vs
    embedding_neardup (the hamming-bucket pair finder) on the same
    corpus.  Properties pinned:
      * precision is EXACT by construction: every dropped vector has a
        lower-id same-cluster partner at exact cosine >= threshold;
      * the drop set equals exactly {higher endpoint of every
        same-cluster exact pair} — in-cluster verification never
        misses, so recall is purely cluster capture;
      * cluster-capture recall over ALL exact pairs clears a floor
        (0.6; measured 0.71 at sf0.01) and is at least as good as the
        hamming<=1 bucket recall of embedding_neardup."""
    import numpy as np
    import pyarrow.parquet as pq

    from ingestprocessstoreinnrt_spark.operators.dedup import (
        SEM_COS_THRESHOLD,
        dedup_semantic,
        embedding_neardup,
    )

    sem = {
        r.vec_id: (r.cid, r.dropped)
        for r in dedup_semantic(spark, SF_ORACLE).collect()
    }
    t = pq.read_table(SF_ORACLE + "/embeddings.parquet").to_pydict()
    ids = t["vec_id"]
    embs = np.array(t["embedding"], dtype=np.float64)
    unit = embs / np.linalg.norm(embs, axis=1, keepdims=True)
    cos = unit @ unit.T
    idx = {v: i for i, v in enumerate(ids)}
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if round(cos[idx[a], idx[b]], 6) >= SEM_COS_THRESHOLD
    }
    assert exact, "corpus must contain exact near-dup pairs"

    # drop set == higher endpoints of same-cluster exact pairs, exactly
    want_dropped = {
        max(a, b) for a, b in exact if sem[a][0] == sem[b][0]
    }
    got_dropped = {v for v, (_, d) in sem.items() if d == 1}
    assert got_dropped == want_dropped

    # recall floor + beats the hamming-bucket finder on the same gate
    recall = len(want_dropped & {max(p) for p in exact}) / len(
        {max(p) for p in exact}
    )
    nd_pairs = {
        (min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b))
        for r in embedding_neardup(spark, SF_ORACLE).collect()
    }
    nd_recall = len(nd_pairs & exact) / len(exact)
    sem_pair_recall = (
        len({p for p in exact if max(p) in got_dropped}) / len(exact)
    )
    assert recall >= 0.6, f"cluster-capture recall {recall:.2f}"
    assert sem_pair_recall >= nd_recall


def test_ann_incremental_maintained_index_equals_rebuilt(spark, tmp_path):
    """VERDICT r7 item 3: an IVF index MAINTAINED through UpsertTable
    upserts — base corpus at build time, then two incoming batches
    coarse-assigned with the SAME pinned quantizer (no refit, no
    corpus rescan) — answers top-k EXACTLY like an index rebuilt from
    scratch over the same data, and exactly like the oracled
    sim_ann_incremental composition."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    base = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        != F.lit(sim.ANN_INC_REM)
    )
    cdf = sim.base_coarse_row(spark, SF_ORACLE)
    table = UpsertTable(
        spark, str(tmp_path / "ivf"), ["vec_id"], num_buckets=4
    )
    table.init(sim.ivf_assign_rows(base, cdf))
    # the 10% batch arrives as TWO sequential upserts (vec_id % 20 ==
    # 7 then 17) — repeated maintenance, never a refit
    for rem in (sim.ANN_INC_REM, sim.ANN_INC_REM + sim.ANN_INC_MOD):
        sub = emb.filter(
            F.pmod(F.col("vec_id"), F.lit(2 * sim.ANN_INC_MOD))
            == F.lit(rem)
        )
        table.upsert(sim.ivf_assign_rows(sub, cdf))

    def serve(index):
        return {
            (r.query_id, r.vec_id): (r.cos_sim, r.rank)
            for r in sim._ivf_probe_topk(
                index, emb, cdf, sim.IVF_NPROBE_MULTI
            ).collect()
        }

    maintained = serve(table.read())
    rebuilt = serve(sim.ivf_assign_rows(emb, cdf))
    assert maintained == rebuilt
    oracled = {
        (r.query_id, r.vec_id): (r.cos_sim, r.rank)
        for r in sim.ann_incremental(spark, SF_ORACLE).collect()
    }
    assert maintained == oracled


def test_pq_codes_incremental_upsert_equals_rebuilt(spark, tmp_path):
    """VERDICT r7 item 3, PQ half: the persisted CODE table maintained
    by UpsertTable upserts — base encoded at build time, the incoming
    batch encoded with the SAME pinned codebooks and upserted — equals
    a one-pass re-encode of everything (encoding is a pure per-row
    function of the pinned codebook artifact)."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    cdf = sim.pq_codebook_row(spark, SF_ORACLE)
    is_batch = (
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        == F.lit(sim.ANN_INC_REM)
    )
    table = UpsertTable(
        spark, str(tmp_path / "pq"), ["vec_id"], num_buckets=4
    )
    table.init(sim.pq_encode_rows(emb.filter(~is_batch), cdf))
    table.upsert(sim.pq_encode_rows(emb.filter(is_batch), cdf))
    got = {
        r.vec_id: (r.code0, r.code1, r.code2, r.code3, r.qerr)
        for r in table.read().collect()
    }
    want = {
        r.vec_id: (r.code0, r.code1, r.code2, r.code3, r.qerr)
        for r in sim.pq_encode_rows(emb, cdf).collect()
    }
    assert got == want


def test_ann_recall_eval_meets_multiprobe_tier(spark):
    """The oracled recall audit must report the multi-probe tier's
    operating point (r7 measured 0.95 on this corpus): overall
    recall@k >= 0.9."""
    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    rows = sim.ann_recall_eval(spark, SF_ORACLE).collect()
    overall = sum(r.n_hit for r in rows) / sum(r.n_exact for r in rows)
    assert overall >= 0.9, f"multi-probe recall {overall:.3f}"


def test_lsh_ann_maintained_bucket_index_equals_rebuilt(spark, tmp_path):
    """VERDICT r8 item 5: the LSH-ANN bucket index maintained through
    UpsertTable upserts — base corpus bucketed at build time, two
    incoming batches bucketed with the same row-local signature and
    upserted — serves top-k EXACTLY like a rebuilt index, and exactly
    like the oracled sim_ann_lsh_incremental composition."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    base = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        != F.lit(sim.ANN_INC_REM)
    )
    table = UpsertTable(
        spark, str(tmp_path / "lshann"), ["vec_id"], num_buckets=4
    )
    table.init(sim.lsh_bucket_rows(base))
    for rem in (sim.ANN_INC_REM, sim.ANN_INC_REM + sim.ANN_INC_MOD):
        sub = emb.filter(
            F.pmod(F.col("vec_id"), F.lit(2 * sim.ANN_INC_MOD))
            == F.lit(rem)
        )
        table.upsert(sim.lsh_bucket_rows(sub))

    def serve(index):
        return {
            (r.query_id, r.vec_id): (r.cos_sim, r.rank)
            for r in sim._lsh_probe_topk(index).collect()
        }

    maintained = serve(table.read())
    rebuilt = serve(sim.lsh_bucket_rows(emb))
    assert maintained == rebuilt
    oracled = {
        (r.query_id, r.vec_id): (r.cos_sim, r.rank)
        for r in sim.ann_lsh_incremental(spark, SF_ORACLE).collect()
    }
    assert maintained == oracled


def test_ivfpq_maintained_index_equals_rebuilt(spark, tmp_path):
    """The COMPOSED index frame (vec_id, cid, codes) is maintainable
    with the same pinned artifacts: base built + batch upserted ==
    one-pass rebuild (both constituent folds are pure per-row
    functions of the pinned quantizer/codebooks)."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    pq_cdf = sim.pq_codebook_row(spark, SF_ORACLE)
    cdf = sim.coarse_row(spark, SF_ORACLE)
    is_batch = (
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        == F.lit(sim.ANN_INC_REM)
    )
    table = UpsertTable(
        spark, str(tmp_path / "ivfpq"), ["vec_id"], num_buckets=4
    )
    table.init(sim.ivfpq_index_rows(emb.filter(~is_batch), cdf, pq_cdf))
    table.upsert(sim.ivfpq_index_rows(emb.filter(is_batch), cdf, pq_cdf))
    cols = ["vec_id", "cid"] + [f"code{m}" for m in range(sim.PQ_M)]
    got = {tuple(r[c] for c in cols) for r in table.read().collect()}
    want = {
        tuple(r[c] for c in cols)
        for r in sim.ivfpq_index_rows(emb, cdf, pq_cdf).collect()
    }
    assert got == want


def test_ivfpq_recall_meets_calibrated_tier(spark):
    """The composed IVF-PQ path at the calibrated shortlist depth
    (IVFPQ_SHORTLIST — see the constant's measured table) must hold
    its operating point: overall recall@k >= 0.75 at the oracle SF."""
    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    rows = sim.ivfpq_recall_eval(spark, SF_ORACLE).collect()
    overall = sum(r.n_hit for r in rows) / sum(r.n_exact for r in rows)
    assert overall >= 0.75, f"ivfpq recall {overall:.3f}"


def test_residual_pq_beats_raw_pq_fidelity(spark):
    """The point of IVFADC residual encoding: after the coarse
    quantizer removes the cell component, the same PQ_M x PQ_K code
    budget reconstructs with LESS total squared error than encoding
    raw vectors — both errors exact BIGINTs from the oracled ops."""
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    raw = sim.pq_quantize(spark, SF_ORACLE).agg(
        F.sum("qerr").alias("e")
    ).collect()[0].e
    res = sim.ivfpq_residual_encode(spark, SF_ORACLE).agg(
        F.sum("qerr").alias("e")
    ).collect()[0].e
    assert res < raw, f"residual qerr {res} !< raw qerr {raw}"
    # and the residual index rows agree with the composed raw index on
    # the coarse assignment (same pinned quantizer)
    rcids = {
        (r.vec_id, r.cid)
        for r in sim.ivfpq_residual_encode(spark, SF_ORACLE)
        .select("vec_id", "cid").collect()
    }
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    pq_cdf = sim.pq_codebook_row(spark, SF_ORACLE)
    icids = {
        (r.vec_id, r.cid)
        for r in sim.ivfpq_index_rows(
            emb, sim.coarse_row(spark, SF_ORACLE), pq_cdf
        )
        .select("vec_id", "cid").collect()
    }
    assert rcids == icids


def test_ivfpq_residual_serve_recall_tier(spark):
    """The IVFADC serve (residual codes + per-cell residual distance
    tables) must hold the calibrated tier AND not trail the raw-code
    serve at the same shortlist depth — the measurable point of
    residual encoding (sf0.1 measured: residual 0.975 vs raw 0.875)."""
    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    exact = {
        (r.query_id, r.vec_id)
        for r in sim.ann_topk_cosine(spark, SF_ORACLE).collect()
    }
    res = {
        (r.query_id, r.vec_id)
        for r in sim.ivfpq_residual_search(spark, SF_ORACLE).collect()
    }
    raw = {
        (r.query_id, r.vec_id)
        for r in sim.ivfpq_search(spark, SF_ORACLE).collect()
    }
    r_res = len(exact & res) / len(exact)
    r_raw = len(exact & raw) / len(exact)
    assert r_res >= 0.9, f"residual serve recall {r_res:.3f}"
    assert r_res >= r_raw, f"residual {r_res:.3f} < raw {r_raw:.3f}"


def test_ivfadc_maintained_index_equals_rebuilt(spark, tmp_path):
    """IVFADC maintenance symmetry: the residual-encoded index
    maintained through UpsertTable upserts (batch rows residual-encoded
    against the PINNED coarse quantizer + residual codebooks, no
    refit) equals a one-pass rebuild — closing the incremental story
    for the residual layout like the raw IVF/PQ/LSH tiers."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    rcdf = sim.rpq_codebook_row(spark, SF_ORACLE)
    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    cdf = sim.coarse_row(spark, SF_ORACLE)
    is_batch = (
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        == F.lit(sim.ANN_INC_REM)
    )
    table = UpsertTable(
        spark, str(tmp_path / "ivfadc"), ["vec_id"], num_buckets=4
    )
    table.init(sim.ivfadc_index_rows(emb.filter(~is_batch), cdf, rcdf))
    table.upsert(sim.ivfadc_index_rows(emb.filter(is_batch), cdf, rcdf))
    cols = ["vec_id", "cid"] + [f"code{m}" for m in range(sim.PQ_M)]
    got = {tuple(r[c] for c in cols) for r in table.read().collect()}
    want = {
        tuple(r[c] for c in cols)
        for r in sim.ivfadc_index_rows(emb, cdf, rcdf).collect()
    }
    assert got == want
    # and the rebuilt rows agree with the oracled encode on codes
    enc = {
        tuple(r[c] for c in cols)
        for r in sim.ivfpq_residual_encode(spark, SF_ORACLE)
        .drop("qerr").collect()
    }
    assert want == enc


def test_ivfadc_streamed_ingest_serves_like_rebuilt(spark, tmp_path):
    """VERDICT r9 item 5: stream 4 batches of new embeddings through
    residual_rows/ivfadc_index_rows upserts while SERVING between
    batches (ivfadc_serve over table.read()), with one mid-stream
    compaction — after every batch the maintained table must serve
    EXACTLY what a one-pass rebuild over the same corpus serves."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import similarity as sim
    from ingestprocessstoreinnrt_spark.streaming import compact
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from pyspark.sql import functions as F

    rcdf = sim.rpq_codebook_row(spark, SF_ORACLE)
    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    cdf = sim.coarse_row(spark, SF_ORACLE)

    part = F.pmod(F.col("vec_id"), F.lit(8))
    table = UpsertTable(
        spark, str(tmp_path / "ivfadc"), ["vec_id"], num_buckets=4
    )
    table.init(sim.ivfadc_index_rows(emb.filter(part < 4), cdf, rcdf))

    def served(index):
        return {
            (r.query_id, r.vec_id, r.rank)
            for r in sim.ivfadc_serve(emb, index, cdf, rcdf).collect()
        }

    for b in range(4, 8):
        table.upsert(
            sim.ivfadc_index_rows(emb.filter(part == b), cdf, rcdf)
        )
        if b == 5:  # mid-stream OPTIMIZE must not change the answers
            compact.compact_upsert_table(table, target_bytes=10**9)
        rebuilt = sim.ivfadc_index_rows(
            emb.filter(part <= b), cdf, rcdf
        )
        assert served(table.read()) == served(rebuilt), f"batch {b}"


def test_sq8_serve_recall_tier(spark):
    """SQ8's fidelity claim: the int8 tier's 40-deep shortlist must
    essentially recover the exact top-k (measured 1.0 at sf0.01 and
    sf0.1 — int8 dot error is far below top-10 boundary gaps)."""
    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    exact = {
        (r.query_id, r.vec_id)
        for r in sim.ann_topk_cosine(spark, SF_ORACLE).collect()
    }
    sq8 = {
        (r.query_id, r.vec_id)
        for r in sim.sq8_search(spark, SF_ORACLE).collect()
    }
    assert len(exact & sq8) / len(exact) >= 0.95
