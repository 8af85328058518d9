"""Training-data pipeline ops: dedup (exact/minhash/simhash/jaccard/embedding),
similarity search, text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from puddsketch_spark.ops.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from puddsketch_spark.ops.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    random_centroids,
)
from puddsketch_spark.ops.text import (
    bpe_ish_token_count,
    token_count,
    winnowing_fingerprints,
    with_lang_id,
    with_quality_score,
)

SF = "/root/testdata/sf0.01"

BASE = (
    "the quick brown fox jumps over the lazy dog and keeps running through the forest "
    "while the hunter watches from a distance with great patience and silent focus"
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup of 0
        Row(doc_id=2, text=BASE.replace("lazy", "sleepy")),  # near dup of 0
        Row(doc_id=3, text="completely different content about spark dataframes and "
                           "distributed aggregation pipelines at terabyte scale"),
        Row(doc_id=4, text=BASE.replace("fox", "cat").replace("dog", "wolf")),  # near dup
        Row(doc_id=5, text="short"),
        Row(doc_id=6, text=""),
    ]
    return spark.createDataFrame(rows).cache()


def test_exact_dedup(spark, dup_docs):
    out = exact_dedup(dup_docs, "text", "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4, 5, 6]  # doc 1 removed, survivor is min id


def test_minhash_identical_docs_full_agreement(spark, dup_docs):
    sigs = {r.doc_id: r.sig for r in minhash_signatures(dup_docs, num_perm=64).collect()}
    assert sigs[0] == sigs[1]
    agree_near = np.mean(np.array(sigs[0]) == np.array(sigs[2]))
    agree_far = np.mean(np.array(sigs[0]) == np.array(sigs[3]))
    assert agree_near > 0.6
    assert agree_far < 0.2


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = {
        (r.a, r.b): r.est_jaccard
        for r in minhash_dedup_pairs(dup_docs, num_perm=64, bands=16, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs


def test_short_docs_never_false_duplicates(spark):
    """Regression: zero-shingle docs must NOT pair with each other (a shared
    sentinel signature made every short doc a 'perfect duplicate')."""
    from pyspark.sql import Row

    rows = [
        Row(doc_id=0, text="hi"),
        Row(doc_id=1, text="no"),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text=BASE),
        Row(doc_id=4, text=BASE),
    ]
    df = spark.createDataFrame(rows)
    mp = minhash_dedup_pairs(df, num_perm=32, bands=8, threshold=0.5).collect()
    assert {(r.a, r.b) for r in mp} == {(3, 4)}
    sp = simhash_near_dups(df, max_hamming=3).collect()
    assert {(r.a, r.b) for r in sp} == {(3, 4)}


def test_simhash_wide_hamming_blocking_sound(spark):
    """Regression: max_hamming > 3 must still find qualifying pairs (the
    fixed 4-chunk pigeonhole silently dropped them)."""
    from pyspark.sql import Row

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    mod = base.replace("lazy", "soppy").replace("far", "out")
    df = spark.createDataFrame([Row(doc_id=0, text=base), Row(doc_id=1, text=mod)])
    from puddsketch_spark.ops.dedup import simhash_bits

    sh = {r.doc_id: r.simhash for r in simhash_bits(df).collect()}
    ham = bin(sh[0] ^ sh[1]).count("1")
    found = simhash_near_dups(df, max_hamming=ham).collect()
    assert {(r.a, r.b) for r in found} == {(0, 1)}


def test_merge_does_not_alias_operand(spark):
    """Regression: merging into an empty sketch must not alias the other
    operand's arrays (later mutation corrupted the sibling)."""
    import numpy as np

    from puddsketch_spark.core import UDDSketch

    b = UDDSketch(0.01, m=0).update(np.array([1.0, 2.0, 3.0]))
    a = UDDSketch(0.01, m=0)
    a.merge(b)
    before = b.counts.copy()
    a.remove(np.array([2.0]))
    assert np.array_equal(b.counts, before)
    assert a.count == 2 and b.count == 3


def test_simhash_near_dups(spark, dup_docs):
    pairs = {(r.a, r.b): r.hamming for r in
             simhash_near_dups(dup_docs, max_hamming=6).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 3) not in pairs


def test_ngram_jaccard_exact(spark, dup_docs):
    out = {(r.a, r.b): r.jaccard for r in
           ngram_jaccard_pairs(dup_docs, n=3, threshold=0.3).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.3 <= out[(0, 2)] < 1.0
    assert (0, 3) not in out


def test_dedup_components_and_survivors(spark, dup_docs):
    from puddsketch_spark.ops.dedup import dedup_components, dedup_survivors

    # chain 0-1, 1-2 plus isolated pair 3-4: components {0,1,2} and {3,4}
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "a long, b long")
    comps = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert comps == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    surv = sorted(r.doc_id for r in dedup_survivors(dup_docs, pairs).collect())
    # keep min of each component (0, 3) + untouched docs (5, 6)
    assert surv == [0, 3, 5, 6]


def test_dedup_components_long_chain(spark):
    """Chain of 40 nodes -> one component (propagation needs ~log rounds)."""
    from puddsketch_spark.ops.dedup import dedup_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    comps = dedup_components(pairs).collect()
    assert {r.component for r in comps} == {0}
    assert len(comps) == 41


def test_embedding_near_dups(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(32)
    rows = [
        Row(vec_id=0, embedding=[float(x) for x in base]),
        Row(vec_id=1, embedding=[float(x) for x in base * 2.0]),  # cosine 1.0
        Row(vec_id=2, embedding=[float(x) for x in base + rng.standard_normal(32) * 0.05]),
        Row(vec_id=3, embedding=[float(x) for x in rng.standard_normal(32)]),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r.a, r.b): r.cosine for r in embedding_near_dups(df, threshold=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_cosine_topk_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where("vec_id = 0").first().embedding
    top = cosine_topk(emb, q, k=5).collect()
    assert top[0].vec_id == 0 and top[0].cosine == pytest.approx(1.0)
    assert len(top) == 5
    cosines = [r.cosine for r in top]
    assert cosines == sorted(cosines, reverse=True)
    # exact oracle via numpy
    import pandas as pd

    pdf = emb.toPandas()
    M = np.stack(pdf.embedding.map(np.asarray))
    qv = np.asarray(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    best5 = set(pdf.vec_id[np.argsort(-cos)[:5]])
    assert {r.vec_id for r in top} == best5


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = random_centroids(64, n_cells=16)
    assigned = ivf_assign(emb, cents).cache()
    # every vector gets a valid cell
    cells = assigned.select("cell_id").distinct().collect()
    assert all(0 <= r.cell_id < 16 for r in cells)
    q = emb.where("vec_id = 7").first().embedding
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(assigned, cents, q, k=10, n_probe=8).collect()}
    assert len(exact & approx) >= 5  # >=50% recall at half the cells probed


def test_ivf_trained_centroids_balance_and_recall(spark):
    """Trained (spherical k-means) centroids vs random on a SKEWED
    clustered embedding distribution — the real-data regime. Random
    centroids let one hot cell swallow whole clusters: recall looks fine
    only because probing re-scans a large fraction of the table. Trained
    centroids split dense regions: balanced cells, bounded probe scan,
    recall held at fixed n_probe."""
    from puddsketch_spark.ops.similarity import cell_balance, kmeans_centroids

    rng = np.random.default_rng(0)
    dim, n, k = 32, 4000, 16
    centers = rng.standard_normal((6, dim)) * 3
    labels = rng.choice(6, n, p=[0.5, 0.2, 0.15, 0.1, 0.04, 0.01])
    x = centers[labels] + rng.standard_normal((n, dim)) * 0.6
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).cache()

    trained = kmeans_centroids(emb, n_cells=k, sample_size=2048, seed=7)
    assert trained.shape == (k, dim)
    # deterministic for fixed input/seed
    assert np.array_equal(trained, kmeans_centroids(emb, n_cells=k,
                                                    sample_size=2048, seed=7))
    rand = random_centroids(dim, n_cells=k)
    a_trained = ivf_assign(emb, trained).cache()
    a_rand = ivf_assign(emb, rand).cache()
    b_trained = cell_balance(a_trained, k)
    b_rand = cell_balance(a_rand, k)
    # skew crushes random cells (prototype: 8.0 max/mean, 4 empty) while
    # training stays near-uniform (1.6); assert with slack
    assert b_trained["max_over_mean"] < b_rand["max_over_mean"] / 2
    assert b_trained["empty_cells"] == 0

    n_probe = 4
    recalls, scanned = [], []
    for qi in (0, 5, 11, 23):
        q = [float(v) for v in x[qi]]
        exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
        approx = {r.vec_id
                  for r in ivf_topk(a_trained, trained, q, k=10,
                                    n_probe=n_probe).collect()}
        recalls.append(len(exact & approx) / 10)
        qv = np.asarray(q)
        cells = np.argsort(-(trained @ (qv / np.linalg.norm(qv))))[:n_probe]
        scanned.append(
            a_trained.where(F.col("cell_id").isin([int(c) for c in cells])).count() / n
        )
    assert np.mean(recalls) >= 0.9
    # balanced cells bound the probe scan near n_probe/n_cells
    assert max(scanned) <= 2.5 * n_probe / k
    for df in (emb, a_trained, a_rand):
        df.unpersist()


def test_ivf_partition_pruning(spark, tmp_path):
    """The 100-TB IVF contract: with the table laid out by cell_id, the probe
    filter must prune at the SCAN (PartitionFilters), not post-read."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = random_centroids(64, n_cells=16)
    path = str(tmp_path / "ivf_layout")
    ivf_assign(emb, cents).write.partitionBy("cell_id").parquet(path)
    table = spark.read.parquet(path)
    q = emb.where(F.col("vec_id") == 3).first().embedding
    top = ivf_topk(table, cents, q, k=5, n_probe=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        top.explain("formatted")
    plan = buf.getvalue()
    scan = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell_id" in scan and " IN " in scan, scan
    # and only the probed partitions' rows feed the top-k
    probed = {int(r.cell_id) for r in table.join(
        top.select("vec_id"), "vec_id", "left_semi").select("cell_id").collect()}
    assert len(probed) <= 4
    assert top.count() == 5


def test_highdim_arrow_engine(spark):
    """dim-768 path: plane/centroid dots via one Arrow matmul — no
    O(bands*planes*dim) literal blowup in the plan — same recall contract."""
    import contextlib
    import io

    from puddsketch_spark.datagen import embeddings_table
    from puddsketch_spark.ops.dedup import release_cached

    emb = embeddings_table(spark, n=300, dim=768, seed=1, n_dupes=20).cache()
    pairs = embedding_near_dups(emb, threshold=0.99)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" in plan  # the matmul path at dim 768
    got = {(r.a, r.b) for r in pairs.collect()}
    assert {(i, i + 300) for i in range(20)} <= got  # planted exact dups found
    release_cached(pairs)

    assigned = ivf_assign(emb, random_centroids(768, n_cells=64))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain("formatted")
    assert "ArrowEvalPython" in buf.getvalue()
    rows = assigned.groupBy("cell_id").count().collect()
    assert sum(r["count"] for r in rows) == 320
    assert all(0 <= r.cell_id < 64 for r in rows)
    # duplicates land in the same cell as their originals (determinism)
    cells = {r.vec_id: r.cell_id for r in assigned.select("vec_id", "cell_id").collect()}
    assert all(cells[i] == cells[i + 300] for i in range(20))
    emb.unpersist()


def test_token_counts(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="hello world, 42 foo-bar"), Row(doc_id=1, text=""), Row(doc_id=2, text="   ")]
    )
    out = {r.doc_id: (r.n_tokens, r.n_bpe_tokens) for r in
           df.select("doc_id", token_count("text"), bpe_ish_token_count("text")).collect()}
    assert out[0][0] == 4
    # hello, world, ',', 4, 2, foo, '-', bar = 8
    assert out[0][1] == 8
    assert out[1] == (0, 0)
    assert out[2][0] == 0


def test_quality_score(spark):
    good = "This is a reasonably long paragraph of clean English text. " * 3
    bad = "@@@@ #### $$$$ %%%% ^^^^ &&&& <<<< >>>>"
    df = spark.createDataFrame([Row(doc_id=0, text=good), Row(doc_id=1, text=bad)])
    s = {r.doc_id: r.quality for r in with_quality_score(df).collect()}
    assert s[0] > 0.8
    assert s[1] < 0.4


def test_repetition_stats(spark):
    """Gopher repetition filters on hand-computed fixtures, line and word
    granularity, incl. blank-unit filtering and the char-weighted variant."""
    from puddsketch_spark.ops.text import with_repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "aaa\nbbb\naaa\n\n  \nccc"),   # 4 units, 1 dup (aaa)
            (2, "x\nx\nx\nx"),                  # all same
            (3, "unique\nlines\nonly"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_repetition_stats(docs).collect()}
    assert out[1].n_units == 4
    assert out[1].dup_unit_fraction == pytest.approx(1 - 3 / 4)
    # chars: aaa+bbb+aaa+ccc = 12, distinct = 9
    assert out[1].dup_unit_char_fraction == pytest.approx(1 - 9 / 12)
    assert out[2].dup_unit_fraction == pytest.approx(0.75)
    assert out[3].dup_unit_fraction == 0.0
    assert out[4].n_units == 0 and out[4].dup_unit_fraction == 0.0

    words = spark.createDataFrame(
        [(1, "the cat and the dog and the bird")], "doc_id long, text string"
    )
    r = with_repetition_stats(words, sep=" ").collect()[0]
    assert r.n_units == 8
    assert r.dup_unit_fraction == pytest.approx(1 - 5 / 8)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat and the dog went to the market and it is nice"),
            Row(doc_id=1, text="el perro y la casa de los amigos es una maravilla por la noche"),
            Row(doc_id=2, text="xyzzy plugh"),
        ]
    )
    out = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "und"


def test_winnowing_fingerprints(spark, dup_docs):
    fp = winnowing_fingerprints(dup_docs).cache()
    by_doc = {
        r.doc_id: r.fps
        for r in fp.groupBy("doc_id").agg(F.collect_set("fp").alias("fps")).collect()
    }
    assert set(by_doc[0]) == set(by_doc[1])  # identical docs -> identical fps
    # near-dup shares most fingerprints, unrelated shares few
    j = lambda a, b: len(set(a) & set(b)) / len(set(a) | set(b))  # noqa: E731
    assert j(by_doc[0], by_doc[2]) > 0.5
    assert j(by_doc[0], by_doc[3]) < 0.1
    assert 6 not in by_doc  # empty doc -> no fingerprints


def test_multimodal_plumbing(spark):
    from puddsketch_spark.ops.multimodal import decode_and_featurize, frame_sample_plan

    rows = [
        Row(media_id="a", kind="image", payload=bytes(range(200)), mime="image/fake",
            width=10, height=20, duration_ms=None),
        Row(media_id="b", kind="image", payload=b"", mime="image/fake",
            width=0, height=0, duration_ms=None),  # decode failure
        Row(media_id="c", kind="video", payload=bytes(100), mime="video/fake",
            width=1, height=1, duration_ms=5000),
    ]
    from puddsketch_spark.ops.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_and_featurize(df).collect()}
    assert out["a"].decode_ok and len(out["a"].feat) == 16
    assert not out["b"].decode_ok and out["b"].feat is None  # poison pill isolated
    assert out["c"].decode_ok
    # deterministic: same payload -> same features
    out2 = {r.media_id: r for r in decode_and_featurize(df).collect()}
    assert out2["a"].feat == out["a"].feat
    assert frame_sample_plan(5000, fps_target=1.0) == [500, 1500, 2500, 3500, 4500]
    assert frame_sample_plan(0) == []


def test_ngram_max_df_caps_hot_gram_fanout(spark):
    """One universal gram shared by every doc must not create all-pairs
    candidates when max_df is set: docs that share ONLY the hot gram produce
    zero rows; genuine near-dups still pair, with jaccard computed over the
    capped gram universe (hot gram excluded from sizes too)."""
    from pyspark.sql import Row

    boiler = "the quick brown"  # one word-3-gram shared by all 40 docs
    rows = [
        Row(doc_id=i, text=f"{boiler} unique tail words {i} aa{i} bb{i} cc{i}")
        for i in range(40)
    ]
    # planted near-dup pair: identical tails
    rows.append(Row(doc_id=100, text=f"{boiler} same tail words x y z"))
    rows.append(Row(doc_id=101, text=f"{boiler} same tail words x y z"))
    df = spark.createDataFrame(rows)

    out = ngram_jaccard_pairs(df, n=3, threshold=0.9, max_df=10).collect()
    assert {(r.a, r.b) for r in out} == {(100, 101)}
    # capped universe: the dup pair is STILL jaccard 1.0 (hot grams removed
    # from both intersection and sizes symmetrically)
    assert out[0].jaccard == 1.0

    # threshold 0 exposes the candidate set itself: with the cap, docs that
    # share only the hot boilerplate gram never become candidates at all
    cands = ngram_jaccard_pairs(df, n=3, threshold=0.0, max_df=10).collect()
    a_ids = {r.a for r in cands} | {r.b for r in cands}
    assert a_ids == {100, 101}, f"hot gram leaked candidates: {sorted(a_ids)[:10]}"

    # uncapped path unchanged: everything pairs through the boilerplate gram
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.0, max_df=None)
    assert uncapped.count() == 42 * 41 // 2


def test_ngram_char_path_short_docs(spark):
    """Regression: char-gram path must emit no grams for docs shorter than n
    (a truncated gram made all empty docs jaccard-1.0 duplicates)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text=""), Row(doc_id=2, text="ab"),
         Row(doc_id=3, text="abcdefgh"), Row(doc_id=4, text="abcdefgh")]
    )
    out = ngram_jaccard_pairs(df, n=3, threshold=0.5, use_words=False).collect()
    assert {(r.a, r.b) for r in out} == {(3, 4)}


def test_frame_samples_and_decoder_dispatch(spark):
    """Catalyst frame sampling mirrors frame_sample_plan exactly; per-kind
    decoder dispatch routes image/audio to their own fakes."""
    from puddsketch_spark.ops.multimodal import (
        decode_and_featurize,
        fake_audio_decoder,
        fake_image_decoder,
        frame_sample_plan,
        with_frame_samples,
    )

    rows = [("v1", "video", b"x", 4500), ("v2", "video", b"x", 500),
            ("v3", "video", b"x", 0), ("v4", "video", b"x", 120_000)]
    df = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, duration_ms int"
    )
    got = {}
    for r in with_frame_samples(df, fps_target=1.0, max_frames=32).collect():
        got.setdefault(r.media_id, []).append(r.frame_ts_ms)
    for mid, _, _, dur in rows:
        assert got.get(mid, []) == frame_sample_plan(dur, 1.0, 32), (mid, dur)

    media = spark.createDataFrame(
        [("a", "image", b"abcdefgh" * 4), ("b", "audio", b"abcdefgh" * 4)],
        "media_id string, kind string, payload binary",
    )
    out = {r.media_id: r for r in decode_and_featurize(
        media, decoders={"image": fake_image_decoder, "audio": fake_audio_decoder}
    ).collect()}
    assert out["a"].decode_ok and out["b"].decode_ok
    assert len(out["a"].feat) == 16  # image fake: 16 chunk means
    assert len(out["b"].feat) == 8   # audio fake: 4x (mean, range)
    assert out["a"].feat != out["b"].feat


def test_curation_pipeline_fuzzy(spark):
    """Full pipeline with the fuzzy stage on: formatting-perturbed copies
    fold at the exact stage, near-dup variants fold at the minhash stage,
    junk drops at the quality stage; survivors are always the min id."""
    from puddsketch_spark.ops.pipeline import curate_documents

    near = BASE.replace("lazy", "sleepy").replace("fox", "ox")
    rows = (
        [Row(doc_id=0, text=BASE),
         Row(doc_id=1, text=BASE.upper() + "!!!"),        # exact-normalized dup
         Row(doc_id=2, text=near),                          # near dup of 0
         Row(doc_id=3, text="#################"),           # junk
         Row(doc_id=4, text="a completely different long document about spark "
                            "dataframes and distributed aggregation pipelines "
                            "running at terabyte scale with mergeable sketches "
                            "and bucketed shuffles everywhere in the plan")]
    )
    df = spark.createDataFrame(rows)
    curated, stats = curate_documents(
        df, quality_threshold=0.5, fuzzy=True,
        num_perm=64, bands=16, jaccard_threshold=0.5,
    )
    ids = sorted(r.doc_id for r in curated.collect())
    assert stats["n_input"] == 5
    assert stats["n_after_exact"] == 4          # 1 folded into 0
    assert stats["n_after_fuzzy"] == 3          # 2 folded into 0
    assert ids == [0, 4]                         # 3 dropped by quality
    assert all(r.quality >= 0.5 for r in curated.collect())


def test_curation_pipeline_redaction_stage(spark):
    """redact=True masks PII in the SURVIVING text only, reports how many
    docs were touched, and leaves the schema otherwise unchanged."""
    from puddsketch_spark.ops.pipeline import curate_documents

    rows = [
        Row(doc_id=0, text="a long enough clean document about spark "
                           "pipelines and mergeable sketch aggregation"),
        Row(doc_id=1, text="another long document mentioning admin@corp.io "
                           "and the host 10.1.2.3 for on call escalation"),
        Row(doc_id=2, text="###"),  # junk, dropped before redaction
    ]
    curated, stats = curate_documents(
        spark.createDataFrame(rows), quality_threshold=0.5, fuzzy=False,
        redact=True,
    )
    out = {r.doc_id: r.text for r in curated.collect()}
    assert stats["n_redacted_docs"] == 1
    assert "[email]" in out[1] and "[ipv4]" in out[1]
    assert "admin@corp.io" not in out[1]
    assert out[0].startswith("a long enough clean")
    assert 2 not in out
    assert "quality" in curated.columns


def test_stratified_sample_deterministic_and_exact(spark):
    from puddsketch_spark.ops.sampling import stratified_sample, weighted_mix

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    a = {(r.source, r.doc_id) for r in
         stratified_sample(d, ["source"], 7, seed=3).collect()}
    # identical sample under different partitioning (determinism contract)
    b = {(r.source, r.doc_id) for r in
         stratified_sample(d.repartition(13), ["source"], 7, seed=3).collect()}
    assert a == b
    per_src = {}
    for s, _ in a:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(v == 7 for v in per_src.values())  # exactly n per stratum
    # different seed -> different sample (overwhelmingly)
    c = {(r.source, r.doc_id) for r in
         stratified_sample(d, ["source"], 7, seed=4).collect()}
    assert a != c

    # weighted mix: quotas hit exactly (capped at stratum size)
    mixed = weighted_mix(d, "source", {"src0": 1.0, "src1": 1.0, "src3": 2.0},
                         target_total=40, seed=5)
    counts = {r.source: r["count"] for r in mixed.groupBy("source").count().collect()}
    assert counts == {"src0": 10, "src1": 10, "src3": 20}
    # un-weighted sources are excluded entirely
    assert set(counts) == {"src0", "src1", "src3"}
    # oversized quota caps at the stratum size (25 docs per source here)
    big = weighted_mix(d, "source", {"src0": 1.0}, target_total=100, seed=5)
    assert big.count() == 25


def test_pack_sequences_budget_and_determinism(spark):
    """Context-length packing: every pack fits the budget (oversized docs get
    singleton packs), every doc lands in exactly one pack, same input ->
    same packs, and the packing is reasonably tight."""
    from pyspark.sql import functions as F

    from puddsketch_spark.ops.sampling import pack_sequences
    from puddsketch_spark.ops.text import token_count

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    d = d.withColumn("n_tokens", token_count("text"))
    packed = pack_sequences(d, "n_tokens", "doc_id", budget=256, seed=1).cache()
    assert packed.count() == d.count()  # every doc exactly once
    sums = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n")
    ).collect()
    for r in sums:
        assert r.tot <= 256 or r.n == 1  # oversized docs pack alone
    # tightness: average fill of multi-doc packs is well above half
    multi = [r.tot for r in sums if r.n > 1 and r.tot <= 256]
    if multi:
        import numpy as np

        assert np.mean(multi) >= 0.6 * 256
    # determinism across runs
    a = {(r.doc_id, r.pack_id) for r in packed.collect()}
    b = {(r.doc_id, r.pack_id) for r in
         pack_sequences(d, "n_tokens", "doc_id", budget=256, seed=1).collect()}
    assert a == b
    packed.unpersist()


def test_pack_sequences_across_arrow_batches(spark):
    """Regression: bin state must carry across Arrow batches — per-batch
    state reused bin indices, merging unrelated bins past the budget."""
    from pyspark.sql import functions as F

    from puddsketch_spark.ops.sampling import pack_sequences

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        d = spark.range(600).select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id") * 37, F.lit(90)) + 10).cast("int").alias("n_tokens"),
        ).repartition(2)  # ~300 rows/partition -> ~6 batches each
        packed = pack_sequences(d, "n_tokens", "doc_id", budget=128, seed=2)
        sums = packed.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n")
        ).collect()
        assert all(r.tot <= 128 for r in sums)  # no doc here exceeds budget
        assert packed.count() == 600
        # zero-token docs never join an over-budget singleton
        d2 = spark.createDataFrame(
            [(0, 500), (1, 0), (2, 0)], "doc_id long, n_tokens int"
        )
        packed2 = pack_sequences(d2, "n_tokens", "doc_id", budget=128, seed=2)
        by_pack = {}
        for r in packed2.collect():
            by_pack.setdefault(r.pack_id, []).append(r.doc_id)
        big_pack = [p for p, ids in by_pack.items() if 0 in ids][0]
        assert by_pack[big_pack] == [0]  # the oversized doc packs alone
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_decontam_join_and_bloom_agree(spark):
    """flag_contaminated: join and bloom methods return identical exact
    counts; planted overlaps detected, clean docs zero, short docs safe."""
    from puddsketch_spark.ops.decontam import flag_contaminated

    bench_rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
    ]
    doc_rows = [
        (10, "intro text then the quick brown fox jumps over the lazy dog end"),  # 1 bench doc
        (11, "pack my box with five dozen liquor jugs"),  # verbatim bench doc
        (12, "completely unrelated words about spark shuffles and parquet files"),
        (13, "short doc"),  # fewer than n tokens -> no grams
        (14, "fox jumps over a lazy dog but quick brown is elsewhere"),
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")

    res_j = {
        r.doc_id: (r.n_hit_grams, r.contaminated)
        for r in flag_contaminated(docs, bench, n=5, method="join").collect()
    }
    res_b = {
        r.doc_id: (r.n_hit_grams, r.contaminated)
        for r in flag_contaminated(docs, bench, n=5, method="bloom").collect()
    }
    assert res_j == res_b
    assert res_j[11] == (4, True)  # 8 tokens -> 4 distinct 5-grams, all bench
    assert res_j[10][1] and res_j[10][0] >= 5  # contains the whole bench doc
    assert res_j[12] == (0, False)
    assert res_j[13] == (0, False)
    # doc 14 shares many words but no 5 consecutive tokens ("a" breaks the run)
    assert res_j[14] == (0, False)
    assert set(res_j) == {10, 11, 12, 13, 14}  # every doc present in output


def test_decontam_min_hits_threshold(spark):
    from puddsketch_spark.ops.decontam import flag_contaminated

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "x alpha beta gamma delta epsilon y")],
        "doc_id long, text string",
    )
    res = {
        r.doc_id: r.contaminated
        for r in flag_contaminated(docs, bench, n=5, min_hits=2, method="bloom").collect()
    }
    assert res == {1: True, 2: False}  # doc 2 has exactly 1 shared 5-gram


def test_top_terms_tfidf(spark):
    """tf-idf ranking: rare distinctive terms outrank common ones; smooth
    idf matches the closed form; deterministic tie-break."""
    import math

    from puddsketch_spark.ops.text import top_terms_tfidf

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark common"),
            (2, "duck duck common"),
            (3, "common plain words here"),
        ],
        "doc_id long, text string",
    )
    out = top_terms_tfidf(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rnk, r.term, r.tf, r.df, r.weight))
    top1 = {d: sorted(v)[0][1] for d, v in by_doc.items()}
    assert top1 == {1: "spark", 2: "duck", 3: "here"}  # doc3: all df=1 ties -> term asc
    r = [x for x in out if x.doc_id == 1 and x.term == "spark"][0]
    assert r.tf == 3 and r.df == 1
    assert abs(r.weight - 3 * (math.log(4 / 2) + 1)) < 1e-12
    assert all(len(v) == 2 for v in by_doc.values())


def test_curation_pipeline_line_dedup_and_decontam_stages(spark):
    """Extended curation: boilerplate lines stripped in place, benchmark-
    contaminated docs dropped, stats ledger covers every stage."""
    from puddsketch_spark.ops.pipeline import curate_documents

    boiler = "subscribe to our newsletter now"
    good = ("a genuinely informative paragraph about distributed query "
            "engines and their shuffle behavior at scale")
    bench_text = "the secret benchmark passage that must never leak through"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n{good}"),
            (2, f"{boiler}\nsecond document with plenty of readable and "
                "meaningful words inside it for scoring"),
            (3, f"{boiler}\nthird document also containing enough prose to "
                "pass the quality screen easily"),
            (4, f"leaky document quoting {bench_text} verbatim in full"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    curated, stats = curate_documents(
        docs, quality_threshold=0.0, fuzzy=False,
        line_dedup_max_df=2, benchmark=bench, decontam_n=5,
    )
    out = {r.doc_id: r.text for r in curated.collect()}
    assert set(out) == {1, 2, 3}  # doc 4 decontaminated away
    assert boiler not in out[1] and out[1].startswith("a genuinely")
    assert stats["n_after_line_dedup"] == 4
    assert stats["n_after_decontam"] == 3
    assert stats["n_curated"] == 3


def test_profile_table_summarize(spark):
    """Constant-job table profile: exact counts/nulls, exact-mode distinct
    below theta k, numeric moments match, top value via MG."""
    from puddsketch_spark.ops.profile import profile_table

    rows = [
        (1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a"),
        (4, None, "a"), (5, 40.0, None),
    ]
    df = spark.createDataFrame(rows, "id long, v double, cat string")
    prof = {r.column: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "v", "cat"}
    assert prof["id"].n == 5 and prof["id"].n_null == 0
    assert prof["v"].n_null == 1 and prof["cat"].n_null == 1
    # exact-mode distinct (cardinality << k): nulls excluded
    assert prof["id"].distinct_exact_mode and prof["id"].distinct_est == 5.0
    assert prof["v"].distinct_est == 4.0
    assert prof["cat"].distinct_est == 2.0
    # numeric stats over non-null values
    assert prof["v"].mean == 25.0 and prof["v"].vmin == 10.0 and prof["v"].vmax == 40.0
    assert prof["cat"].mean is None  # non-numeric
    # quantiles from the stacked UDD fill (alpha=0.01 relative)
    assert abs(prof["v"].p50 - 20.0) <= 0.2 + 1e-9
    assert abs(prof["id"].p99 - 4.0) <= 0.05 + 1e-9  # rank floor(0.99*4)=3 -> 4th value
    assert prof["cat"].p50 is None
    # top value
    assert prof["cat"].top_value == "a" and prof["cat"].top_freq_lo == 3
    assert prof["cat"].top_freq_err == 0  # k=64 >> cardinality: exact counts


def test_profile_table_job_count_constant_in_columns(spark):
    """The fused moments+UDD kernel keeps the profile at FOUR actions
    (counts, fused numeric fill, theta, MG) however many columns the table
    has (r4 item 6 collapsed the former separate moments and UDD scans).
    AQE splits each shuffle query into several Spark jobs, so the pinned
    property is job count CONSTANT in column count — and strictly fewer
    jobs than the same profile plus one extra numeric scan would need."""
    from puddsketch_spark.ops.profile import profile_table

    rows = [(i, float(i) * 1.5, -float(i), f"c{i % 3}", i % 7)
            for i in range(1, 400)]
    df = spark.createDataFrame(
        rows, "id long, v double, neg double, cat string, bucket long")
    sc = spark.sparkContext

    def jobs_for(frame, group):
        sc.setJobGroup(group, "profile_table job audit")
        try:
            out = {r.column: r for r in profile_table(frame).collect()}
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    prof, n5 = jobs_for(df, "profile-5col")
    _, n2 = jobs_for(df.select("v", "cat"), "profile-2col")
    assert n5 == n2, (n5, n2)
    # and the fused states finalize identically to the split kernels
    assert prof["v"].mean == pytest.approx(300.0) and prof["v"].n_null == 0
    assert abs(prof["v"].p50 - 1.5 * 200) / (1.5 * 200) <= 0.02
    assert prof["neg"].p50 == 0.0  # negatives sit in the UDD zero bucket


def test_dataset_diff_snapshots(spark):
    """Snapshot diff: exact-mode id churn matches true kept/added/removed,
    KS flags the shifted column and not the stable one, moment deltas."""
    from puddsketch_spark.ops.diff import dataset_diff

    rng = np.random.default_rng(27)
    old_rows = [
        (int(i), float(v), float(w))
        for i, v, w in zip(range(1000), rng.lognormal(1, 1, 1000),
                           rng.normal(50, 5, 1000))
    ]
    # new snapshot: ids 200..1199 (200 removed, 200 added); v stable, w shifted
    new_rows = [
        (int(i), float(v), float(w))
        for i, v, w in zip(range(200, 1200), rng.lognormal(1, 1, 1000),
                           rng.normal(60, 5, 1000))
    ]
    old = spark.createDataFrame(old_rows, "uid long, v double, w double")
    new = spark.createDataFrame(new_rows, "uid long, v double, w double")
    d = dataset_diff(old, new, "uid", ["v", "w"], alpha=0.01)
    assert d["ids"]["exact_mode"]
    assert d["ids"] == {
        "old": 1000.0, "new": 1000.0, "kept": 800.0,
        "added": 200.0, "removed": 200.0, "exact_mode": True,
    }
    assert d["columns"]["v"]["ks"] <= 0.1          # same distribution
    assert d["columns"]["w"]["ks"] >= 0.5          # 2-sigma mean shift
    assert 8 <= d["columns"]["w"]["mean_delta"] <= 12
    assert abs(d["columns"]["v"]["mean_delta"]) <= 0.5
    assert d["columns"]["v"]["n_old"] == d["columns"]["v"]["n_new"] == 1000


def test_dataset_diff_signed_sees_negative_drift(spark):
    """The default UDD kernel folds all negatives into one zero bucket, so
    drift living entirely below zero is invisible to it (documented
    limitation); signed=True switches the KS to the DDSketch pair and
    recovers it (r4 advice)."""
    from puddsketch_spark.ops.diff import dataset_diff

    def ks_exact(a, b):
        allv = np.sort(np.concatenate([a, b]))
        ca = np.searchsorted(np.sort(a), allv, side="right") / a.size
        cb = np.searchsorted(np.sort(b), allv, side="right") / b.size
        return float(np.abs(ca - cb).max())

    rng = np.random.default_rng(31)
    a = -rng.lognormal(1, 1, 1500)       # all negative
    b = -rng.lognormal(2, 1, 1500)       # all negative, shifted
    old = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(a)], "uid long, v double")
    new = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(b)], "uid long, v double")
    blind = dataset_diff(old, new, "uid", ["v"], alpha=0.01)
    assert blind["columns"]["v"]["ks"] == 0.0  # every value in the zero bucket
    signed = dataset_diff(old, new, "uid", ["v"], alpha=0.01, signed=True)
    exact = ks_exact(a, b)
    assert abs(signed["columns"]["v"]["ks"] - exact) <= 0.05
    assert signed["columns"]["v"]["ks"] >= 0.3


def test_with_unigram_logprob(spark):
    """Unigram LM scoring: common-word docs outscore rare-word docs; the
    corpus-trained model matches the closed form; OOV under an external
    model is ignored; empty docs score NULL."""
    import math

    from puddsketch_spark.ops.text import with_unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the the the"),     # most common token
            (2, "the the rare"),
            (3, "rare"),            # least common
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.logprob for r in with_unigram_logprob(docs).collect()}
    # corpus: the x5, rare x2 -> p(the)=5/7, p(rare)=2/7
    p_the, p_rare = 5 / 7, 2 / 7
    assert abs(out[1] - math.log(p_the)) < 1e-12
    assert abs(out[2] - (2 * math.log(p_the) + math.log(p_rare)) / 3) < 1e-12
    assert abs(out[3] - math.log(p_rare)) < 1e-12
    assert out[4] is None
    assert out[1] > out[2] > out[3]

    # external model + OOV: unseen terms don't poison the mean
    ext = spark.createDataFrame([("the", 0.5)], "term string, p double")
    out2 = {r.doc_id: r.logprob
            for r in with_unigram_logprob(docs, freqs=ext).collect()}
    assert abs(out2[2] - math.log(0.5)) < 1e-12  # only 'the' scored
    assert out2[3] is None  # fully OOV


def test_with_unigram_logprob_duplicate_and_null_texts(spark):
    """The content-keyed join (r4 advice replaced the checkpoint-pinned row
    id) must keep one output row per input row: duplicate texts share a
    score, every copy still counts toward the corpus model, NULL text
    scores NULL."""
    import math

    from puddsketch_spark.ops.text import with_unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b"), (3, "b"), (4, None)],
        "doc_id long, text string",
    )
    rows = with_unigram_logprob(docs).collect()
    assert len(rows) == 4  # no fan-out, no loss
    out = {r.doc_id: r.logprob for r in rows}
    # corpus counts every copy: a x4, b x3
    p_a, p_b = 4 / 7, 3 / 7
    expect_dup = (2 * math.log(p_a) + math.log(p_b)) / 3
    assert abs(out[1] - expect_dup) < 1e-12
    assert out[1] == out[2]
    assert abs(out[3] - math.log(p_b)) < 1e-12
    assert out[4] is None
