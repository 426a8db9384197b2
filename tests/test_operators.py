"""Tests for the scale-path operators: two-phase assignment parity,
LSH dedup behavior on planted duplicates, ANN recall vs brute force,
multimodal plumbing, streaming ingestion."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adsmasterpipeline_spark.operators.assignment import assign_sequential
from adsmasterpipeline_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, simhash64, simhash_pairs,
)
from adsmasterpipeline_spark.operators.multimodal import (
    extract_features, fake_assets, frame_sample_plan,
)
from adsmasterpipeline_spark.operators.similarity import (
    brute_force_topk, label_centroids, sign_lsh_topk,
)
from tests.conftest import SF_DIR


def test_assign_sequential_matches_global_window(spark):
    """The two-phase assignment must be bit-identical to the global
    row_number window."""
    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 104729).alias("key"))  # scrambled order
    two_phase = assign_sequential(df, "key", num_partitions=8)
    reference = df.withColumn(
        "seq", F.row_number().over(W.orderBy("key")) - 1)
    mismatches = two_phase.alias("a").join(
        reference.alias("b"), "key").where("a.seq != b.seq").count()
    assert mismatches == 0


def test_assign_sequential_shared_prefix_keys_no_bucket_collapse(spark):
    """Bibcode-like string keys share a long year prefix; the 9-char
    order proxy must still spread them over range buckets (a 3-char
    proxy collapsed '2019ApJ...' keys onto ONE proxy value — all rows
    in one hot bucket). Numbering must also stay bit-identical to the
    global window on strings."""
    from adsmasterpipeline_spark.operators.assignment import _order_proxy

    n_req = 8
    # bibcode shape YYYYJJJJJVVVV…: all share the year prefix "2019";
    # the journal field (chars 5-9) carries the variety — exactly what
    # a 3-char proxy ("201") could not see and a 9-char proxy can
    keys = [(f"2019J{i % 500:04d}{i:05d}A",) for i in range(4000)]
    df = spark.createDataFrame(keys, "key string")
    two_phase = assign_sequential(df, "key", num_partitions=n_req)
    # ≥ min(n_rows, requested) non-empty buckets despite the shared
    # "2019ApJ..." prefix (chars beyond position 9 still distinguish)
    n_buckets = (df.select(_order_proxy(F.col("key")).alias("p"))
                 .agg(F.approx_count_distinct("p")).first()[0])
    assert n_buckets >= n_req  # proxy granularity supports the split
    reference = df.withColumn(
        "seq", F.row_number().over(W.orderBy("key")) - 1)
    mismatches = two_phase.alias("a").join(
        reference.alias("b"), "key").where("a.seq != b.seq").count()
    assert mismatches == 0


def _docs_with_dups(spark):
    base = ("spark merges sorted runs while the shuffle service streams "
            "blocks across executors during wide transformations")
    near = base.replace("blocks", "chunks")  # one-token edit
    other = ("completely different content about embedding quantization "
             "and inverted file probing for nearest neighbor search")
    rows = [(1, base), (2, base), (3, near), (4, other),
            (5, "short text"), (6, "short text")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_planted(spark):
    out = {r["doc_id"]: r for r in exact_dedup(_docs_with_dups(spark)).collect()}
    assert out[1]["group_size"] == 2 and out[1]["is_keeper"]
    assert out[2]["group_size"] == 2 and not out[2]["is_keeper"]
    assert out[4]["group_size"] == 1 and out[4]["is_keeper"]
    assert out[5]["is_keeper"] and not out[6]["is_keeper"]


def test_minhash_lsh_finds_planted_pair(spark):
    """2-row bands: a J≈0.6 pair matches some band with p≈0.97 per the
    banding curve, and deterministically with this hash family (the
    default 4-row bands give p≈0.43 at J=0.6 — correctly tuned for
    the ≥0.7 threshold, not for this planted edit)."""
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(_docs_with_dups(spark), bands=8,
                                        jaccard_threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert (1, 3) in pairs and (2, 3) in pairs  # near dup caught by LSH
    assert all(j >= 0.5 for j in pairs.values())
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_lsh_recall_vs_exact(spark):
    """Banding recall pinned against exact all-pairs ground truth on the
    driver corpus: every pair with true shingle-Jaccard >= 0.7 must
    surface (the K-M double-hash family must not cost recall), and
    exact verification means zero false positives."""
    from adsmasterpipeline_spark.operators.dedup import shingles
    from adsmasterpipeline_spark.sources import load_table
    docs = load_table(spark, SF_DIR, "documents")
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("_sh")).cache()
    sh.count()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     (inter.cast("double") / union).alias("j"))
             .where(F.round("j", 4) >= 0.7).collect()}
    # pin the BENCH config (6 hashes x 2 bands of 3 — what
    # minhash_lsh_neardup ships) so a parameter change that costs
    # recall fails here, not just in the artifact
    found = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, num_hashes=6, bands=2,
                               jaccard_threshold=0.7).collect()}
    assert truth, "corpus must contain planted near-dups"
    assert len(found & truth) >= 0.95 * len(truth)   # recall floor
    assert not (found - truth)                        # verified: no FPs


def test_minhash_materialize_modes_agree(spark):
    docs = _docs_with_dups(spark)
    ref = sorted(tuple(r) for r in
                 minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect())
    chk = sorted(tuple(r) for r in
                 minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                   materialize="checkpoint").collect())
    assert ref == chk


def test_simhash_properties(spark):
    df = _docs_with_dups(spark).select(
        "doc_id", simhash64(F.col("text")).alias("sim"))
    sims = {r["doc_id"]: r["sim"] for r in df.collect()}
    assert sims[1] == sims[2]            # identical text -> identical hash
    assert sims[1] >= 0                  # bit 63 kept clear
    ham_near = bin(sims[1] ^ sims[3]).count("1")
    ham_far = bin(sims[1] ^ sims[4]).count("1")
    assert ham_near < ham_far            # near-dup closer than unrelated

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(_docs_with_dups(spark),
                                    max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(5, 6)] == 0


def test_simhash_pairs_aggregate_matches_column_form(spark):
    """simhash_pairs builds signatures via the codegen'd vote
    aggregation; it must produce bit-identical longs to the per-row
    simhash64 reference on every doc (same tokens, same majority
    rule, bit 63 clear)."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs, normalize_text)
    docs = _docs_with_dups(spark)
    ref = {r["doc_id"]: r["sim"] for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("sim")).collect()}
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(normalize_text(F.col("text")), " "))).alias("_tok"))
    h = F.xxhash64("_tok")
    aggs = [F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"_v{i}")
            for i in range(63)]
    votes = toks.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("_n"))
    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.col(f"_v{i}") * 2 > F.col("_n"), F.lit(1 << i))
            .otherwise(F.lit(0)))
    agg_form = {r["doc_id"]: r["sim"] for r in
                votes.select("doc_id", out.alias("sim")).collect()}
    assert agg_form == ref


def test_sign_lsh_recall_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 16)
    bf = brute_force_topk(q, e, k=1).collect()
    lsh = sign_lsh_topk(q, e, k=1, planes=2).collect()
    bf_top = {r["query_id"]: r["neighbor_id"] for r in bf}
    lsh_top = {r["query_id"]: r["neighbor_id"] for r in lsh}
    # On RANDOM embeddings the true NN has modest cosine, so per-plane
    # sign agreement is ~0.6 -> recall@1 with 2 planes ~0.4; assert a
    # conservative floor plus exact sims on every hit.
    hits = sum(1 for k in bf_top if lsh_top.get(k) == bf_top[k])
    assert hits >= len(bf_top) * 0.2
    bf_sims = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in bf}
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_sims:
            assert r["sim"] == bf_sims[key]


def test_label_centroids_shape(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cen = label_centroids(e).collect()
    labels = e.select("label").distinct().count()
    assert len(cen) == labels
    assert all(len(r["centroid"]) == 64 for r in cen)


def test_multimodal_plumbing(spark):
    feats = extract_features(fake_assets(spark, 30)).collect()
    assert len(feats) == 30
    byid = {r["asset_id"]: r for r in feats}
    assert all(r["decode_ok"] for r in feats)
    assert len(byid[0]["feature"]) == 8
    assert byid[0]["n_bytes"] == 32
    # deterministic across runs
    feats2 = extract_features(fake_assets(spark, 30)).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_real_decode_stubbed(spark):
    """Without the optional codec extras every kind fails row-wise with
    a recorded error (image/audio: missing lib; video: no ffmpeg), the
    job itself never dies."""
    feats = extract_features(fake_assets(spark, 3), fake_decode=False).collect()
    assert all(not r["decode_ok"] for r in feats)
    errs = {r["kind"]: r["error"] or "" for r in feats}
    has_pil = True
    try:
        import PIL  # noqa: F401
    except ImportError:
        has_pil = False
    if not has_pil:
        assert "need PIL" in errs["image"]
    assert "no codec for kind=video" in errs["video"]


def test_frame_sample_plan(spark):
    plan = frame_sample_plan(fake_assets(spark, 12), every_ms=500,
                             audio_window_ms=500, audio_hop_ms=250).collect()
    video = [r for r in plan if r["kind"] == "video"]
    audio = [r for r in plan if r["kind"] == "audio"]
    assert video and audio
    assert all(r["ts_ms"] == r["frame_idx"] * 500 for r in video)
    # audio windows hop by 250, span 500, clipped to the duration
    assert all(r["ts_ms"] == r["frame_idx"] * 250 for r in audio)
    assert all(r["end_ms"] - r["ts_ms"] <= 500 for r in audio)
    # overlapping framing: asset 7 (audio, 1200ms) yields
    # ceil((1200-500)/250)+1 = 4 windows, the last clipped to 1200
    w7 = sorted((r["ts_ms"], r["end_ms"]) for r in audio if r["asset_id"] == 7)
    assert w7 == [(0, 500), (250, 750), (500, 1000), (750, 1200)]


def test_audio_real_wav_decode(spark):
    """PCM WAV decodes for real via the stdlib wave fallback (no
    third-party codec): the loudness envelope reflects actual sample
    amplitudes, quiet half vs loud half."""
    import io
    import struct
    import wave

    from adsmasterpipeline_spark.operators.multimodal import (
        decode_audio, extract_features,
    )

    n = 800
    quiet = [2000] * (n // 2)           # |x| ~ 0.061 of full scale
    loud = [20000] * (n // 2)           # |x| ~ 0.610
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{n}h", *(quiet + loud)))
    payload = buf.getvalue()

    env = decode_audio(payload, dims=8)
    assert len(env) == 8
    assert all(abs(v - 2000 / 32768) < 1e-9 for v in env[:4])
    assert all(abs(v - 20000 / 32768) < 1e-9 for v in env[4:])

    # and through the Spark mapInPandas path
    assets = spark.createDataFrame(
        [(1, "audio", payload, ("audio/wav", None, None, 100))],
        "asset_id long, kind string, media binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    row = extract_features(assets, fake_decode=False).collect()[0]
    assert row["decode_ok"], row["error"]
    assert abs(row["feature"][0] - 2000 / 32768) < 1e-9


def test_multimodal_real_decode_when_deps_present(spark):
    """Exercises the real PIL path when the optional extra is installed
    (skipped in codec-less containers)."""
    import io
    pytest.importorskip("PIL")
    from PIL import Image
    buf = io.BytesIO()
    Image.new("L", (16, 16), color=128).save(buf, format="PNG")
    assets = spark.createDataFrame(
        [(1, "image", buf.getvalue(), ("image/png", 16, 16, None))],
        "asset_id long, kind string, media binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    row = extract_features(assets, fake_decode=False).collect()[0]
    assert row["decode_ok"] and len(row["feature"]) == 8
    assert all(abs(v - 128 / 255) < 1e-6 for v in row["feature"])


@pytest.mark.slow
def test_streaming_ingest_available_now(spark, tmp_path):
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    batch1 = [
        {"bibcode": "S1", "type": "bib_data", "status": "active",
         "payload": json.dumps({"bibcode": "S1", "title": ["one"]}),
         "event_ts": "2024-01-01T00:00:00.000Z"},
        {"bibcode": "S2", "type": "bib_data", "status": "active",
         "payload": json.dumps({"bibcode": "S2"}),
         "event_ts": "2024-01-01T00:00:01.000Z"},
    ]
    (events_dir / "b1.json").write_text(
        "\n".join(json.dumps(e) for e in batch1))

    ing = StreamingIngest(spark, str(events_dir),
                          str(tmp_path / "records"), str(tmp_path / "ckpt"))
    ing.run_available_now()
    recs = txn_table(spark, str(tmp_path / "records")).read()
    assert recs.count() == 2

    # second file arrives; checkpoint ensures only the delta is applied
    batch2 = [{"bibcode": "S1", "type": "fulltext", "status": "active",
               "payload": json.dumps({"body": "B"}),
               "event_ts": "2024-01-02T00:00:00.000Z"}]
    (events_dir / "b2.json").write_text(json.dumps(batch2[0]))
    ing.run_available_now()
    recs = txn_table(spark, str(tmp_path / "records")).read()
    assert recs.count() == 2
    row = recs.where("bibcode = 'S1'").collect()[0]
    assert json.loads(row["fulltext"])["body"] == "B"
    assert json.loads(row["bib_data"])["title"] == ["one"]


def test_video_frame_features_tick_parity(spark):
    """Python-side frame generation must agree with the JVM
    frame_sample_plan tick arithmetic, asset by asset."""
    from adsmasterpipeline_spark.operators.multimodal import (
        video_frame_features,
    )
    assets = fake_assets(spark, 30)
    plan_counts = {
        r["asset_id"]: r["n"]
        for r in frame_sample_plan(assets, every_ms=1000)
        .where("kind = 'video'")
        .groupBy("asset_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    feat = video_frame_features(assets, every_ms=1000)
    feat_counts = {
        r["asset_id"]: r["n"]
        for r in feat.groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert feat_counts == plan_counts
    rows = feat.orderBy("asset_id", "frame_idx").collect()
    assert all(r["decode_ok"] for r in rows)
    assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)
    # frames of one asset get distinct deterministic features
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(tuple(r["feature"]))
    multi = [v for v in by_asset.values() if len(v) > 1]
    assert multi and all(len(set(v)) > 1 for v in multi)


def test_blocked_gemm_pairs_equals_hof_join(spark):
    """The BLAS tile path must reproduce the zip_with/aggregate join
    bit-for-bit at 6 dp — same pairs, same sims, no pair duplicated or
    dropped across tile boundaries (incl. the diagonal tiles)."""
    from adsmasterpipeline_spark.operators.similarity import (
        blocked_gemm_pairs, cosine,
    )
    from adsmasterpipeline_spark.sources import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("_a"))
    b = e.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("_b"))
    hof = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
           a.join(b, F.col("vec_a") < F.col("vec_b"))
           .select("vec_a", "vec_b",
                   F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("sim"))
           .where("sim >= 0.4").collect()}
    gemm = {(r["vec_a"], r["vec_b"]): r["sim"] for r in
            blocked_gemm_pairs(e, threshold=0.4, n_blocks=7).collect()}
    assert hof and gemm == hof


def test_video_frame_real_decode_records_error(spark):
    """Non-RAWV payloads on the real-decode path must record per-row
    errors (no codec for them in-environment), not fail the job."""
    from adsmasterpipeline_spark.operators.multimodal import (
        video_frame_features,
    )
    assets = fake_assets(spark, 9)
    rows = video_frame_features(assets, fake_decode=False).collect()
    assert rows and all(not r["decode_ok"] for r in rows)
    assert all(r["error"] for r in rows)


def test_video_frame_real_rawv_decode(spark):
    """RAWV container payloads decode for real (pure Python) through the
    same mapInPandas path — per-frame features reflect the actual pixel
    intensities of the frame at each tick."""
    import pytest

    from adsmasterpipeline_spark.operators.multimodal import (
        ASSET_SCHEMA, decode_video_frame, encode_rawv, video_frame_features,
    )

    w = h = 4
    intensities = [10, 128, 250]
    frames = [bytes([v] * (w * h)) for v in intensities]
    payload = encode_rawv(frames, w, h, frame_ms=1000)
    assets = spark.createDataFrame(
        [(1, "video", payload, ("video/x-rawv", w, h, 2000))], ASSET_SCHEMA)

    rows = (video_frame_features(assets, every_ms=1000, fake_decode=False)
            .orderBy("frame_idx").collect())
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert all(r["decode_ok"] for r in rows), [r["error"] for r in rows]
    for r, v in zip(rows, intensities):
        assert all(abs(x - v / 255.0) < 1e-9 for x in r["feature"])

    # direct decoder contract: seek past the last frame is a data error,
    # a foreign container is an unimplemented codec
    with pytest.raises(ValueError, match="beyond payload"):
        decode_video_frame(payload, ts_ms=3000)
    with pytest.raises(NotImplementedError, match="RAWV"):
        decode_video_frame(b"\x00\x01\x02rubbish-not-rawv", ts_ms=0)
    # corrupt header: zero frame interval
    bad = encode_rawv(frames, w, h, frame_ms=1) \
        .replace(b"\x01\x00", b"\x00\x00", 1)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_video_frame(bad, ts_ms=0)


def test_round6_decimal_matches_spark_round_on_boundaries(spark):
    """The GEMM kernel's per-candidate rounding must equal Spark's
    Round (BigDecimal over the shortest-decimal repr, HALF_UP) — these
    inputs are exact ...5 decimal boundaries whose binary value sits
    BELOW the boundary, where the fast sign*floor(abs*1e6+0.5) scheme
    rounds down but Spark rounds up."""
    from adsmasterpipeline_spark.operators.similarity import _round6_decimal
    vals = [0.0001245, 0.0001255, 0.0002445, 0.1234565, -0.0001245]
    got = spark.createDataFrame([(v,) for v in vals], "v double") \
        .select(F.round("v", 6).alias("r")).collect()
    for v, row in zip(vals, got):
        assert _round6_decimal(v) == row["r"], v


def test_sign_lsh_multiprobe_beats_single_probe(spark):
    """Hamming-2 multiprobe must dominate single-probe recall on the
    real testdata (the ANNRECALL artifact tracks the exact numbers),
    and every reported sim must equal the brute-force value."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 16)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, e, k=3).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in sign_lsh_topk(q, e, k=3, planes=8).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in sign_lsh_topk(q, e, k=3, planes=8,
                                    hamming=2).collect()}
    assert len(multi & bf) >= len(single & bf)
    assert len(multi & bf) >= len(bf) * 0.25


def test_hadamard_bucket_vectorized_matches_jvm_fold(spark):
    """The Arrow-vectorized Hadamard bucket (int64 GEMM, the round-6
    ann_sign_lsh hot path) must be BIT-IDENTICAL to the interpreted
    JVM expression reference (quantize -> per-plane signed fold) —
    both implement floor(x*2^20) fixed-point sums whose sign feeds
    the bucket bits, so no float summation-order slack exists to
    hide behind."""
    from adsmasterpipeline_spark.operators.similarity import (
        hadamard_bucket_from_quant, hadamard_bucket_vectorized,
        quantize_vec)

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    jvm = hadamard_bucket_from_quant(
        quantize_vec(F.col("embedding")), 8).alias("bkt")
    vec = hadamard_bucket_vectorized(8)(F.col("embedding")).alias("bkt")
    a = {r["vec_id"]: r["bkt"] for r in e.select("vec_id", jvm).collect()}
    b = {r["vec_id"]: r["bkt"] for r in e.select("vec_id", vec).collect()}
    assert a == b
    assert len(set(a.values())) > 32, "buckets must actually spread"


def test_sign_lsh_hadamard_recall_floor(spark):
    """The hadamard/hamming-3 config ann_sign_lsh ships with must hold
    the recall floor that motivated it (VERDICT r5 #2: axis-aligned
    recall FELL to 0.35 at sf0.1; this config measures 0.65-0.83
    rising with SF — pin well above the old drift point)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 32)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(q, e, k=3).collect()}
    had = {(r["query_id"], r["neighbor_id"])
           for r in sign_lsh_topk(q, e, k=3, planes=8, hamming=3,
                                  mix="hadamard").collect()}
    assert len(had & bf) >= len(bf) * 0.5


def test_image_real_netpbm_decode(spark):
    """P5/P6 netpbm images decode for REAL (stdlib parse, block-mean
    strip features) through the full mapInPandas path: hand-built
    images with known intensities, comment-bearing headers, 16-bit
    maxval, and a truncated raster recording its error row-wise."""
    from adsmasterpipeline_spark.operators.multimodal import (
        decode_image, extract_features)

    # P5 4x2 grayscale, maxval 255: columns 0,64,128,255
    p5 = b"P5\n# a comment\n4 2\n255\n" + bytes([0, 64, 128, 255] * 2)
    f = decode_image(p5, dims=4)
    assert f == [0.0, 64 / 255, 128 / 255, 1.0]
    # P6 2x1 RGB: pixel0 pure red, pixel1 white -> grays 1/3, 1.0
    p6 = b"P6 2 1 255\n" + bytes([255, 0, 0, 255, 255, 255])
    f6 = decode_image(p6, dims=2)
    assert abs(f6[0] - 1 / 3) < 1e-12 and f6[1] == 1.0
    # 16-bit maxval (big-endian)
    p5w = b"P5 1 1 65535\n" + (32768).to_bytes(2, "big")
    assert abs(decode_image(p5w, dims=1)[0] - 32768 / 65535) < 1e-12

    rows = [(1, "image", bytearray(p5)), (2, "image", bytearray(p6)),
            (3, "image", bytearray(b"P5 4 4 255\n\x00\x01"))]  # truncated
    df = spark.createDataFrame(
        rows, "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in
           extract_features(df, fake_decode=False).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"]
    assert not out[3]["decode_ok"]
    assert "truncated netpbm raster" in out[3]["error"]
    assert out[1]["feature"][:2] == [0.0, 64 / 255]


def test_pq_topk_recall_and_determinism(spark):
    """IVF+PQ+re-rank recall floor vs brute force on the real
    testdata, run-to-run determinism (deterministic sample + Lloyd
    init, no RNG anywhere), and the re-rank contract: every returned
    sim equals the EXACT cosine (rounded 6) — the ADC approximation
    never leaks into output values, only into pool membership."""
    from adsmasterpipeline_spark.operators.similarity import pq_topk
    from adsmasterpipeline_spark.sources import load_table
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") < 16)
    bf_rows = brute_force_topk(q, e, k=3).collect()
    bf = {(r["query_id"], r["neighbor_id"]) for r in bf_rows}
    exact_sim = {(r["query_id"], r["neighbor_id"]): r["sim"]
                 for r in brute_force_topk(q, e, k=200).collect()}
    a = pq_topk(q, e, k=3).collect()
    pq = {(r["query_id"], r["neighbor_id"]) for r in a}
    assert len(pq & bf) >= len(bf) * 0.5
    for r in a:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 1e-9
    b = pq_topk(q, e, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_netpbm_p6_16bit_and_mask_ball_sizes():
    """Driver-less unit checks: 16-bit P6 RGB decodes via the
    big-endian path, and hamming_masks generalizes beyond distance 2
    (ball sizes = sum of C(planes, d))."""
    from adsmasterpipeline_spark.operators.multimodal import decode_image
    from adsmasterpipeline_spark.operators.similarity import hamming_masks

    # one pixel, channels (65535, 0, 0) -> gray 1/3
    p6w = b"P6 1 1 65535\n" + (65535).to_bytes(2, "big") + b"\x00" * 4
    f = decode_image(p6w, dims=1)
    assert abs(f[0] - 1 / 3) < 1e-12

    assert len(hamming_masks(8, 0)) == 1
    assert len(hamming_masks(8, 1)) == 9
    assert len(hamming_masks(8, 2)) == 37
    assert len(hamming_masks(8, 3)) == 37 + 56
    assert len(hamming_masks(3, 99)) == 8        # full ball, capped
    assert len(set(hamming_masks(8, 3))) == 93   # all distinct


def test_image_phash_neardup_planted(spark, tmp_path):
    """Planted image near-dups: an exact text duplicate renders an
    identical raster (hamming 0); a one-word edit renders a
    near-identical raster (low hamming); an unrelated doc pairs with
    neither. All payloads must really decode (decode_ok True for every
    asset — the netpbm path, not the fake)."""
    from pyspark.sql import functions as F

    from adsmasterpipeline_spark.queries.scale_ops import (
        image_phash_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again until the corpus fills with words " * 3)
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),                  # exact dup
        (3, base.replace("lazy", "hazy", 1), "en", "web", len(base)),
        (4, "completely different content about spark plans and "
            "shuffles partitions exchanges joins aggregates windows "
            "and broadcast thresholds in the optimizer " * 3,
         "en", "web", 100),
        # short unrelated docs with identical word-length layout: below
        # the 128-char gate the raster rows 2-4 are all padding and the
        # hash would collapse to a space/non-space layout indicator —
        # these two would falsely collide at hamming 0. The gate must
        # exclude them from the image path entirely.
        (5, "cat dog ran far", "en", "web", 15),
        (6, "pig fox sat too", "en", "web", 15),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "phash")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_phash_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)
    # the length gate keeps degenerate short docs out of the image path
    assert not any(5 in p or 6 in p for p in pairs)


def test_resize_images_roundtrip(spark):
    """Real resize path: a planted 8x4 P5 gradient block-mean
    downscales to 4x2, the output re-decodes through the SAME netpbm
    parser with correct dims, and the overall mean intensity is
    preserved (area-average invariant). A corrupt payload records a
    per-row error instead of failing the job."""
    import numpy as np

    from adsmasterpipeline_spark.operators.multimodal import (
        _netpbm_gray, encode_p5, resize_images,
    )

    grad = np.arange(32, dtype=np.float64).reshape(4, 8) / 31.0
    payload = encode_p5(grad)
    rows = [(1, "image", payload, ("image/x-portable-graymap", 8, 4,
                                   None)),
            (2, "image", b"JUNK", ("image/x-portable-graymap", 0, 0,
                                   None))]
    from adsmasterpipeline_spark.operators.multimodal import ASSET_SCHEMA
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    out = {r["asset_id"]: r
           for r in resize_images(assets, out_w=4, out_h=2).collect()}
    assert out[1]["resize_ok"] and out[2]["error"] is not None
    small = _netpbm_gray(bytes(out[1]["media"]))
    assert small.shape == (2, 4)
    # area-average preserves mean up to uint8 quantization
    assert abs(float(small.mean()) - float(grad.mean())) < 2 / 255
    # downscale is deterministic: second run byte-identical
    again = {r["asset_id"]: bytes(r["media"]) for r in
             resize_images(assets, out_w=4, out_h=2).collect()
             if r["resize_ok"]}
    assert again[1] == bytes(out[1]["media"])


def test_resize_gray_uneven_split():
    import numpy as np

    from adsmasterpipeline_spark.operators.multimodal import resize_gray

    g = np.arange(35, dtype=np.float64).reshape(5, 7) / 34.0
    small = resize_gray(g, 3, 2)
    assert small.shape == (2, 3)
    # uneven splits weight blocks unequally, so the mean is only
    # approximately preserved (exact preservation needs divisible dims
    # — pinned in test_resize_images_roundtrip)
    assert abs(float(small.mean()) - float(g.mean())) < 0.1
    assert 0.0 <= float(small.min()) and float(small.max()) <= 1.0


def test_audio_fingerprint_neardup_planted(spark, tmp_path):
    """Planted audio near-dups through the REAL WAV round trip: an
    exact text duplicate is hamming 0; a small suffix edit stays
    within the hamming<=3 gate; an unrelated doc pairs with
    neither."""
    from adsmasterpipeline_spark.queries.scale_ops import (
        audio_fingerprint_neardup,
    )

    # build the near-dup from the NORMALIZED form (the query trims /
    # collapses whitespace before synthesis — a length change there
    # shifts every envelope-window boundary)
    base = ("table small sort order small hash stream data big key "
            "group fast join merge filter window batch row value " * 4
            ).strip()
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),            # exact dup
        # same normalized length, last-window-local substitution (a
        # longer or shifted edit moves every window boundary and
        # exceeds the hamming gate — that selectivity is what keeps
        # doc 4 out below)
        (3, base[:-8] + "qqqqqqqq", "en", "web", len(base)),
        (4, "completely different text about optimizers exchanges "
            "partitions shuffles joins aggregates codegen stages "
            "broadcast thresholds and adaptive execution " * 4,
         "en", "web", 400),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "audiofp")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_fingerprint_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_video_phash_neardup_planted(spark, tmp_path):
    """Planted video near-dups through the REAL RAWV round trip: an
    exact text duplicate is hamming 0; a one-block edit inside one
    frame stays within the hamming<=3 gate; an unrelated doc pairs
    with neither; a short doc (< 4 frames) is excluded by the
    duration gate entirely."""
    from adsmasterpipeline_spark.queries.scale_ops import (
        video_phash_neardup,
    )

    base = ("table small sort order small hash stream data big key "
            "group fast join merge filter window batch row value " * 6
            ).strip()
    assert len(base) >= 256
    # flip 8 chars inside the third frame (byte offsets 128..192)
    edited = base[:150] + "qqqqqqqq" + base[158:]
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),            # exact dup
        (3, edited, "en", "web", len(edited)),        # frame-local edit
        (4, "completely different text about optimizers exchanges "
            "partitions shuffles joins aggregates codegen stages "
            "broadcast thresholds and adaptive execution plans " * 6,
         "en", "web", 600),
        (5, "short clip", "en", "web", 10),           # below the gate
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "videofp")
    df.coalesce(1).write.parquet(sf + "/documents.parquet")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in video_phash_neardup(spark, sf).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p or 5 in p for p in pairs)


def _png_encode(gray_rows, depth=8, ctype=0, filters=None,
                interlace=0):
    """Forward PNG encoder (test-side inverse of the production
    decoder): per-row filter types from ``filters`` (default all 0),
    zlib-compressed, real chunk CRCs. ``gray_rows`` is [h][w] ints for
    ctype 0, [h][w][ch] for 2/4/6."""
    import zlib

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + zlib.crc32(typ + data).to_bytes(4, "big"))

    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    bps = depth // 8
    h = len(gray_rows)
    w = len(gray_rows[0])
    bpp = nch * bps

    def sample_bytes(v):
        return v.to_bytes(bps, "big")

    raw_rows = []
    for row in gray_rows:
        b = bytearray()
        for px in row:
            for c in (px if nch > 1 else [px]):
                b += sample_bytes(c)
        raw_rows.append(bytes(b))

    filters = filters or [0] * h
    out = bytearray()
    prev = bytes(len(raw_rows[0]))
    for row, ft in zip(raw_rows, filters):
        out.append(ft)
        if ft == 0:
            out += row
        else:
            for x in range(len(row)):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:  # paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                out.append((row[x] - pred) & 0xFF)
        prev = row
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([depth, ctype, 0, 0, interlace]))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def test_png_decode_all_filters_and_depths(spark):
    """Stdlib PNG decode: every filter type (None/Sub/Up/Average/
    Paeth) round-trips through the forward encoder, 8-bit gray / RGB /
    RGBA and 16-bit gray all decode to the right intensities, and the
    full mapInPandas path records per-row errors for corrupt /
    interlaced payloads instead of failing the job."""
    import pytest as _pytest

    from adsmasterpipeline_spark.operators.multimodal import (
        decode_image, extract_features)

    # 8-bit gray 4x5, one row per filter type; decode as 4 col-strips
    rows = [[0, 64, 128, 255], [10, 20, 30, 40], [200, 100, 50, 25],
            [5, 250, 5, 250], [17, 34, 51, 68]]
    png = _png_encode(rows, filters=[0, 1, 2, 3, 4])
    f = decode_image(png, dims=4)
    expect = [sum(r[c] for r in rows) / 5 / 255 for c in range(4)]
    assert all(abs(a - b) < 1e-12 for a, b in zip(f, expect))

    # RGB: pixel red + white (gray 1/3, 1.0), Paeth-filtered row
    rgb = _png_encode([[[255, 0, 0], [255, 255, 255]]], ctype=2,
                      filters=[4])
    f3 = decode_image(rgb, dims=2)
    assert abs(f3[0] - 1 / 3) < 1e-12 and f3[1] == 1.0

    # RGBA: alpha ignored for intensity
    rgba = _png_encode([[[0, 0, 0, 7], [255, 255, 255, 9]]], ctype=6)
    f4 = decode_image(rgba, dims=2)
    assert f4 == [0.0, 1.0]

    # 16-bit gray big-endian
    p16 = _png_encode([[32768]], depth=16)
    assert abs(decode_image(p16, dims=1)[0] - 32768 / 65535) < 1e-12

    # interlaced -> per-row error through the real Arrow path
    adam7 = _png_encode(rows, interlace=1)
    truncated = png[:40]
    df = spark.createDataFrame(
        [(1, "image", bytearray(png)), (2, "image", bytearray(adam7)),
         (3, "image", bytearray(truncated))],
        "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in
           extract_features(df, fake_decode=False, dims=4).collect()}
    assert out[1]["decode_ok"]
    assert out[1]["feature"] == _pytest.approx(expect)
    assert not out[2]["decode_ok"] and "interlaced" in out[2]["error"]
    assert not out[3]["decode_ok"]


def test_banded_hamming_first_match_equals_dedup_form(spark):
    """banded_hamming_pairs emits each colliding pair exactly once via
    its LOWEST agreeing band (first-match pairing); output must equal
    the reference dropDuplicates form on hashes engineered to collide
    in 1, 2, 3 and all 4 bands (hamming-0 twins collide everywhere —
    the old form emitted them 4x before the dedup exchange)."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs)
    h = 0x1234_5678_9ABC_DEF0
    rows = [
        (1, h), (2, h),                      # hamming 0: all 4 bands agree
        (3, h ^ 0x1),                        # band 0 differs; 1-3 agree
        (4, h ^ 0x0001_0001_0001_0000),      # only band 0 agrees
        (5, h ^ (0x7 << 16)),                # band 1 differs; 0,2,3 agree
        (6, 0x0F0F_0F0F_0F0F_0F0F),          # unrelated
    ]
    sig = spark.createDataFrame(rows, "id long, hh long")
    new = banded_hamming_pairs(sig, "id", "hh", max_hamming=63)
    got = sorted(map(tuple, new.collect()))

    # reference: emit per agreeing band, then dedup
    from pyspark.sql import functions as F
    banded = sig.select(
        "id", "hh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("hh", b * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
            for b in range(4)])).alias("_b"),
    ).select("id", "hh", "_b.band", "_b.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.hh").bitwiseXOR(F.col("b.hh")))
    ref = (a.join(b, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.id") < F.col("b.id")))
           .select(F.col("a.id").alias("id_a"),
                   F.col("b.id").alias("id_b"), hamming.alias("hamming"))
           .where(F.col("hamming") <= 63)
           .dropDuplicates(["id_a", "id_b", "hamming"]))
    assert got == sorted(map(tuple, ref.collect()))
    # multiplicity: the hamming-0 twin appears exactly once
    assert [g for g in got if g[:2] == (1, 2)] == [(1, 2, 0)]


def test_image_phash_png_planted_pair(spark):
    """PNG planted near-dup through the FULL perceptual-hash path:
    text rasters encoded as real PNGs (not netpbm), decoded by the
    stdlib PNG parser inside mapInPandas, blockhashed, and banded —
    an exact dup collides at hamming 0, an unrelated doc pairs with
    neither."""
    from adsmasterpipeline_spark.operators.dedup import (
        banded_hamming_pairs)
    from adsmasterpipeline_spark.operators.multimodal import (
        blockhash63, extract_features)

    def raster(text):
        txt = (text * 8)[:256].ljust(256)
        data = [[ord(ch) for ch in txt[r * 64:(r + 1) * 64]]
                for r in range(4)]
        return _png_encode(data, filters=[0, 1, 2, 4])

    base = ("the quick brown fox jumps over the lazy dog while spark "
            "shuffles blocks across executors ")
    other = ("completely different content about adaptive query "
             "execution and partition coalescing in the optimizer ")
    rows = [(1, bytearray(raster(base))), (2, bytearray(raster(base))),
            (3, bytearray(raster(other)))]
    df = spark.createDataFrame(rows, "asset_id long, media binary") \
        .selectExpr("asset_id", "'image' as kind", "media")
    feats = extract_features(df, fake_decode=False, dims=63)
    sig = feats.where(F.col("decode_ok")).select(
        "asset_id", blockhash63(F.col("feature")).alias("ph"))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in banded_hamming_pairs(sig, "asset_id", "ph",
                                           max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert not any(3 in p for p in pairs)


def _jpeg_encode_gray(img, comps_420=None, progressive=False, al=0):
    """Test-side baseline JPEG encoder (forward twin of the production
    decoder): full 8x8 orthonormal DCT, all-ones quant tables, custom
    single-length Huffman tables (DC: 12 cats at 4 bits; AC: 176
    run/size symbols at 8 bits), byte stuffing, optional flat-chroma
    4:2:0 color (``comps_420=(cb, cr)``). ``progressive=True`` emits
    SOF2 + a DC-only first scan (Ss=Se=0, Ah=0, Al=``al``) — DC
    coefficients arithmetic-shifted by ``al`` per T.81 G.1.2.1, no AC
    data at all (gray only)."""
    import numpy as np

    k = np.arange(8)
    A = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2
    A[0, :] *= 1 / np.sqrt(2)
    ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
          35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
          58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
    bits = []

    def put(v, n):
        for i in range(n - 1, -1, -1):
            bits.append((v >> i) & 1)

    def cat(v):
        a, c = abs(v), 0
        while a:
            a >>= 1
            c += 1
        return c

    ac_syms = [r << 4 | s for r in range(16) for s in range(11)]
    ac_code = {sym: i for i, sym in enumerate(ac_syms)}

    def encode_block(block, pred):
        f = A @ (block.astype(np.float64) - 128) @ A.T
        q = np.round(f).astype(int)
        zz = [q.flat[i] for i in ZZ]
        diff = zz[0] - pred
        s = cat(diff)
        put(s, 4)
        if s:
            put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for v in zz[1:]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                put(ac_code[0xF0], 8)
                run -= 16
            s = cat(v)
            put(ac_code[run << 4 | s], 8)
            put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            put(ac_code[0x00], 8)
        return zz[0]

    h, w = img.shape
    ncomp = 3 if comps_420 else 1
    if progressive:
        pred = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                f = A @ (blk.astype(np.float64) - 128) @ A.T
                tdc = int(round(f[0, 0])) >> al
                diff = tdc - pred
                pred = tdc
                s = cat(diff)
                put(s, 4)
                if s:
                    put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    elif comps_420:
        cb, cr = comps_420
        preds = [0, 0, 0]
        for my in range(h // 16):
            for mx in range(w // 16):
                for by in range(2):
                    for bx in range(2):
                        blk = img[my * 16 + by * 8:my * 16 + by * 8 + 8,
                                  mx * 16 + bx * 8:mx * 16 + bx * 8 + 8]
                        preds[0] = encode_block(blk, preds[0])
                preds[1] = encode_block(np.full((8, 8), cb), preds[1])
                preds[2] = encode_block(np.full((8, 8), cr), preds[2])
    else:
        pred = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                pred = encode_block(
                    img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], pred)
    while len(bits) % 8:
        bits.append(1)
    raw = bytearray()
    for i in range(0, len(bits), 8):
        byte = int("".join(map(str, bits[i:i + 8])), 2)
        raw.append(byte)
        if byte == 0xFF:
            raw.append(0x00)          # byte stuffing

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    dc_dht = seg(0xC4, bytes([0x00]) + bytes(
        [0, 0, 0, 12] + [0] * 12) + bytes(range(12)))
    ac_dht = seg(0xC4, bytes([0x10]) + bytes(
        [0] * 7 + [176] + [0] * 8) + bytes(ac_syms))
    if progressive:
        sof = seg(0xC2, bytes([8]) + h.to_bytes(2, "big")
                  + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
        sos = seg(0xDA, bytes([1, 1, 0x00, 0, 0, al]))
        # TEM + fill byte before SOS: zero-payload markers a baseline
        # segment walker mis-parses as length-carrying (ADVICE r5)
        return (b"\xff\xd8" + dqt + dc_dht + b"\xff\x01" + b"\xff"
                + sof + sos + bytes(raw) + b"\xff\xd9")
    if ncomp == 1:
        sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                  + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
        sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    else:
        sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                  + w.to_bytes(2, "big")
                  + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
        sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + dc_dht + ac_dht + sof + sos
            + bytes(raw) + b"\xff\xd9")


def test_jpeg_decode_baseline(spark):
    """Stdlib baseline JPEG: a gradient grayscale image round-trips
    through the forward DCT encoder within quantization error; flat
    4:2:0 YCbCr color converts through YCbCr->RGB->mean-gray;
    progressive and truncated payloads record per-row errors through
    the real Arrow path."""
    import numpy as np
    import pytest as _pytest

    from adsmasterpipeline_spark.operators.multimodal import (
        _jpeg_gray, decode_image, extract_features)

    # 16x8 horizontal gradient: strip means must track the gradient
    img = np.tile(np.linspace(40, 215, 16).astype(np.uint8), (8, 1))
    jp = _jpeg_encode_gray(img)
    gray = _jpeg_gray(jp)
    assert gray.shape == (8, 16)
    assert np.abs(gray * 255 - img).max() < 3.0  # quant + IDCT error
    f = decode_image(jp, dims=4)
    want = [img[:, c * 4:(c + 1) * 4].mean() / 255 for c in range(4)]
    assert f == _pytest.approx(want, abs=0.02)

    # flat 4:2:0 color: Y=120, Cb=100, Cr=160 -> exact YCbCr->RGB mean
    cimg = np.full((16, 16), 120, dtype=np.uint8)
    jc = _jpeg_encode_gray(cimg, comps_420=(100, 160))
    g = _jpeg_gray(jc)
    y, cb, cr = 120.0, 100 - 128.0, 160 - 128.0
    want_gray = ((y + 1.402 * cr) + (y - 0.344136 * cb - 0.714136 * cr)
                 + (y + 1.772 * cb)) / 3 / 255
    assert np.abs(g - want_gray).max() < 0.02

    # progressive flag (SOF2) and truncation -> per-row errors
    progressive = jp.replace(b"\xff\xc0", b"\xff\xc2", 1)
    df = spark.createDataFrame(
        [(1, "image", bytearray(jp)), (2, "image", bytearray(progressive)),
         (3, "image", bytearray(jp[:40]))],
        "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in
           extract_features(df, fake_decode=False, dims=4).collect()}
    assert out[1]["decode_ok"]
    assert not out[2]["decode_ok"] and "progressive" in out[2]["error"]
    assert not out[3]["decode_ok"]


def test_jpeg_progressive_dc_decode(spark):
    """Progressive JPEG (SOF2) DC-first-scan decode: the scan IS the
    8x-downsampled image, which is exactly what the block-mean /
    phash features consume. Planted pair: the SAME image encoded
    progressive and baseline must yield matching features through the
    real Arrow path; arithmetic-coded SOF stays a per-row error. Also
    exercises zero-payload TEM + fill bytes in the segment walk
    (ADVICE r5: these desynced the round-5 parser)."""
    import numpy as np
    import pytest as _pytest

    from adsmasterpipeline_spark.operators.multimodal import (
        _jpeg_gray, decode_image, extract_features)

    rng = np.random.default_rng(7)
    # block-constant image -> DC-only reconstruction is near-exact
    blocks = rng.integers(30, 226, size=(4, 4))
    img = np.kron(blocks, np.ones((8, 8))).astype(np.uint8)

    jp_prog = _jpeg_encode_gray(img, progressive=True, al=1)
    gray = _jpeg_gray(jp_prog)
    # DC raster pixel-replicated back to the true frame size, so the
    # geometry matches a baseline decode of the same image
    assert gray.shape == (32, 32)
    # al=1 drops one LSB of the quantized DC: mean error < 1 level
    assert np.abs(gray * 255 - img).max() < 1.5

    f_prog = decode_image(jp_prog, dims=4)
    f_base = decode_image(_jpeg_encode_gray(img), dims=4)
    assert f_prog == _pytest.approx(f_base, abs=0.02)

    other = np.kron(rng.integers(30, 226, size=(4, 4)),
                    np.ones((8, 8))).astype(np.uint8)
    jp_other = _jpeg_encode_gray(other, progressive=True, al=1)
    arith = jp_prog.replace(b"\xff\xc2", b"\xff\xc9", 1)
    df = spark.createDataFrame(
        [(1, "image", bytearray(jp_prog)), (2, "image", bytearray(jp_other)),
         (3, "image", bytearray(arith))],
        "asset_id long, kind string, media binary")
    out = {r["asset_id"]: r for r in
           extract_features(df, fake_decode=False, dims=4).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"]
    assert out[1]["feature"] == _pytest.approx(f_prog, abs=1e-6)
    assert out[1]["feature"] != _pytest.approx(out[2]["feature"], abs=0.02)
    assert not out[3]["decode_ok"] and "arithmetic" in out[3]["error"]


def test_hadamard_bucket_vectorized_dirty_vectors(spark):
    """ADVICE r6: embeddings containing null/NaN/inf components must
    not hit np.floor(non-finite).astype(int64) — platform-defined
    garbage the JVM fold can't reproduce. Contract: a vector with any
    non-finite component gets a NULL bucket (excluded from the bucket
    join, like whole-null vectors); clean vectors in the same batch
    are unaffected."""
    from adsmasterpipeline_spark.operators.similarity import (
        hadamard_bucket_vectorized)

    rows = [
        (1, [1.0] * 8),
        (2, [1.0, None, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [float("nan")] * 8),
        (4, [float("inf"), 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (5, None),
        (6, [-1.0] * 8),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    bkt = hadamard_bucket_vectorized(4)
    got = {r["vec_id"]: r["b"] for r in
           df.select("vec_id",
                     bkt(F.col("embedding")).alias("b")).collect()}
    assert got[1] is not None and got[6] is not None
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[5] is None
