"""Dedup + similarity operator tests."""

from pyspark.sql import functions as F

from jsonschema_rs_spark.operators import dedup as DD
from jsonschema_rs_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return d.unionByName(dup), {int(r[0]) for r in dup.select("doc_id").collect()}


def test_exact_dedup_removes_planted(spark):
    corpus, planted = _corpus(spark)
    total = corpus.count()
    kept = DD.dedup_exact(corpus, "doc_id", "text")
    # every planted dup removed; keeper is the min id (the original)
    assert kept.count() == total - len(planted)
    kept_ids = {int(r[0]) for r in kept.select("doc_id").collect()}
    assert not (kept_ids & planted)


def test_minhash_lsh_finds_exact_dups(spark):
    corpus, planted = _corpus(spark)
    pairs = DD.minhash_lsh_pairs(corpus, "doc_id", "text")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for pid in planted:
        assert (pid - 1_000_000, pid) in got  # identical docs always collide


def test_ngram_jaccard_exact_dups_score_1(spark):
    corpus, planted = _corpus(spark)
    pairs = DD.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    hits = [p for p in planted if (p - 1_000_000, p) in got]
    # docs with >=3 words all produce shingles and match at jaccard 1.0
    assert len(hits) >= len(planted) - 2
    assert all(abs(got[(p - 1_000_000, p)] - 1.0) < 1e-9 for p in hits)


def test_simhash_identical_docs_equal_hash(spark):
    corpus, planted = _corpus(spark)
    h = corpus.select("doc_id", DD.simhash64(F.col("text")).alias("s"))
    m = {int(r["doc_id"]): r["s"] for r in h.collect()}
    for pid in planted:
        assert m[pid] == m[pid - 1_000_000]


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, q, k=5)
    approx = SIM.lsh_ann_topk(emb, q, k=5, n_planes=12, bands=6)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # rank-1 self match must always survive (identical vector, all bits equal)
    for qid in range(10):
        assert (qid, qid) in a


def test_ivf_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, q, k=5)
    ivf = SIM.ivf_ann_topk(emb, q, k=5, n_centroids=16, nprobe=6)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    assert len(e & a) / len(e) >= 0.6
    for qid in range(10):
        assert (qid, qid) in a  # self-vector always lands in its own bucket


def test_ivf_buckets_are_non_degenerate(spark):
    """Round-1 ADVICE: the (cid, ndot) struct ordering ranked by centroid id,
    assigning EVERY vector to bucket 0 (silent brute-force).  Buckets must
    actually spread."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = SIM._centroids(emb, "vec_id", "embedding", 16)
    assigned = SIM.ivf_assign(emb, "embedding", cents)
    buckets = assigned.groupBy("bucket").count().collect()
    assert len(buckets) > 4, buckets
    top = max(r["count"] for r in buckets)
    total = sum(r["count"] for r in buckets)
    assert top < 0.9 * total, buckets  # no single bucket swallows the corpus


def test_ivf_kmeans_recall_on_larger_corpus(spark):
    """VERDICT #8: sampled k-means quantizer, n_centroids ~ sqrt(N), recall
    >= 0.9 on a corpus ~10x the sf0.001 embedding fixture."""
    import numpy as np

    rng = np.random.RandomState(11)
    n, dim = 5000, 16
    # 25 well-separated gaussian clusters — the regime IVF exists for
    centers = rng.normal(scale=8.0, size=(25, dim))
    rows = [
        (i, [float(x) for x in centers[i % 25] + rng.normal(size=dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    k_cent = int(np.sqrt(n))  # ~70
    cents = SIM.kmeans_centroids(emb, k=k_cent, seed=7, sample_n=2000)
    exact = SIM.cosine_topk(emb, q, k=5)
    ivf = SIM.ivf_ann_topk(emb, q, k=5, nprobe=8, centroids=cents)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"kmeans IVF recall {recall}"


def test_violation_messages(spark):
    from jsonschema_rs_spark.compiler import compile_spec
    from jsonschema_rs_spark.plans.validate import violations, with_messages
    from jsonschema_rs_spark.sources.spans import SPAN_TABLE_SCHEMA

    df = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "zzz", "text": None, "media_ref": None, "offset": 0}],
          "part_key": 0}],
        SPAN_TABLE_SCHEMA)
    c = compile_spec(
        {"properties": {"spans": {"items": {"properties": {
            "kind": {"enum": ["text"]}}}}}}, df.schema)
    out = with_messages(violations(df, c)).collect()
    assert out[0]["message"] == (
        "value 'zzz' violates enum (spans/items/kind/enum) at span 0")


def test_embedding_near_duplicates(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # plant a near-identical copy of vec 0
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999_999).alias("vec_id"), "embedding", "label")
    out = SIM.near_duplicates_cosine(emb.unionByName(clone), threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 999_999) in pairs


def test_multimodal_feature_plumbing(spark):
    from jsonschema_rs_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [("media://1", "image"), ("media://2", "audio")],
        "media_ref string, media_kind string",
    )
    feats = MM.extract_media_features(MM.attach_fake_payload(df))
    rows = {r["media_ref"]: r for r in feats.collect()}
    assert rows["media://1"]["n_bytes"] == len("media://1") * 8
    assert len(rows["media://1"]["feature"]) == 8
    assert rows["media://1"]["header_hex"] == "media://1".encode()[:4].hex()


def test_multimodal_frame_sampling_and_resize(spark):
    from jsonschema_rs_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [("media://1", "video"), ("media://22", "video")],
        "media_ref string, media_kind string",
    )
    media = MM.attach_fake_payload(df)
    frames = MM.sample_frames(media, n_frames=4, frame_bytes=8).collect()
    by_ref = {}
    for r in frames:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert all(len(v) == 4 for v in by_ref.values())  # row fan-out
    payload = ("media://1" * 8).encode()
    span = len(payload) - 8
    for r in by_ref["media://1"]:
        off = (r["frame_index"] * span) // 3
        assert bytes(r["frame"]) == payload[off:off + 8]

    resized = MM.resize_media(media, out_bytes=16).collect()
    for r in resized:
        assert len(bytes(r["payload"])) == 16
        assert r["meta"]["bytes"] == 16


def test_exact_duplicates_sample_is_bounded_pre_agg(spark):
    """sample_ids=k must cap the collect_list INPUT (row_number <= k before
    the agg), not slice after — otherwise a degenerate fingerprint puts
    every member id in one aggregation buffer (round-2 OOM hazard)."""
    corpus, planted = _corpus(spark)
    out = DD.exact_duplicates(corpus, "doc_id", "text", sample_ids=2)
    rows = out.collect()
    assert rows, "planted dups must surface"
    for r in rows:
        assert len(r["dup_ids"]) <= 2
        assert r["dup_ids"][0] == r["keep_id"]  # lowest ids, sorted
        assert r["dup_ids"] == sorted(r["dup_ids"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cap is a window row_number, visible in the physical plan
    assert "row_number" in plan, plan


def test_lsh_ann_shuffle_carries_no_vectors(spark):
    """The band-duplicate dedup must shuffle (query_id, vec_id, cos) only:
    no embedding column may appear under a hashpartitioning exchange
    (round-2 shipped full vectors through a `.distinct()`)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = SIM.lsh_ann_topk(emb, q, k=5, n_planes=12, bands=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line and "qv" not in line, line
    # dedup is a combinable agg (partial max below the exchange), not
    # a row distinct over vectors
    assert "partial_max(cos" in plan, plan


def test_near_dup_shuffle_carries_no_vectors(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = SIM.near_duplicates_cosine(emb, threshold=0.5, n_planes=8, bands=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line, line
    assert "partial_max(cos" in plan, plan


def test_connected_components_chains_converge(spark):
    """Min-label propagation resolves multi-hop chains (pairs only connect
    neighbors; the min must travel the full chain length)."""
    edges = spark.createDataFrame(
        # two chains: 0-1-2-3-4 and 10-11-12; plus a 2-cycle 20-21
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a bigint, id_b bigint")
    got = {r["id"]: r["rep"]
           for r in DD.connected_components_min(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}, got


def test_simhash_pairs_find_planted_at_hamming_zero(spark):
    corpus, planted = _corpus(spark)
    out = DD.simhash_pairs(corpus, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    for p in planted:
        assert got.get((p - 1_000_000, p)) == 0, p
    plan = out._jdf.queryExecution().executedPlan().toString()
    # band dedup is a combinable min-agg over narrow (ids, hamming) rows
    assert "partial_min(hamming" in plan, plan


def test_dedup_keepers_removes_chain_members(spark):
    """pairs -> components -> keep-list: only each component's min id and
    untouched docs survive (round 4)."""
    from jsonschema_rs_spark.operators.dedup import dedup_keepers

    # component {1,2,3} (two hops from 3 to 1) keeps 1; {7,8} keeps 7.
    # String ids run the same case: their labels have no numeric sum, so
    # convergence is checked with a join (a decimal cast of 'doc-…' fails)
    for typ, mk in (("long", lambda i: i),
                    ("string", lambda i: f"doc-{i:06d}")):
        docs = spark.createDataFrame([(mk(i),) for i in range(10)],
                                     f"doc_id {typ}")
        pairs = spark.createDataFrame(
            [(mk(3), mk(2)), (mk(2), mk(1)), (mk(7), mk(8))],
            f"id_a {typ}, id_b {typ}")
        kept = sorted(r["doc_id"] for r in
                      dedup_keepers(docs, "doc_id", pairs).collect())
        assert kept == [mk(i) for i in (0, 1, 4, 5, 6, 7, 9)], (typ, kept)


def test_word_shingles_zip_construction(spark):
    """Round 6: zip_with+slice shingles must equal the definitional
    n-gram set (distinct, first-occurrence order, incomplete tails
    dropped)."""
    rows = [("a b c d",), ("x y",), ("p q r p q r p q r",), ("solo",),
            ("  Mixed   CASE  words here  ",)]
    df = spark.createDataFrame(rows, "text string")
    got = [r["sh"] for r in
           df.select(DD.word_shingles(F.col("text"), 3).alias("sh")).collect()]

    def expected(t):
        ws = " ".join(t.lower().split()).split(" ")
        out, seen = [], set()
        for i in range(len(ws) - 2):
            s = " ".join(ws[i:i + 3])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    assert got == [expected(t) for (t,) in rows]
