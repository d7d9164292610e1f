"""Python-oracle tests for the non-SQL-expressible webtext operators:
MinHash vs true Jaccard, SimHash locality, fingerprints, LSH-ANN recall,
and the multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from insideout_spark.plans import webtext
from insideout_spark.plans.multimodal import (
    extract_media_features,
    resize_plan,
    sample_frames,
    synth_media,
)


def _shingles(text: str, k: int = 5) -> set:
    b = text.encode("utf-8")
    if len(b) < k:
        b = b + b"\x00" * (k - len(b))
    return {b[i : i + k] for i in range(len(b) - k + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _scalar_token_hash(t: str) -> int:
    """Per-token reference for the SimHash token hash: a wrapping
    base-257 codepoint fold, then splitmix64."""
    from insideout_spark.sources.pages import _splitmix64

    h = np.uint64(0)
    with np.errstate(over="ignore"):  # the fold wraps mod 2**64
        for ch in t:
            h = h * np.uint64(257) + np.uint64(ord(ch))
    return int(_splitmix64(np.array([h], dtype=np.uint64))[0])


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted near-duplicates."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the rain falls outside all afternoon"
    )
    rows = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    for i in range(30):
        rng = np.random.default_rng(1000 + i)
        words = ["".join(rng.choice(letters, 8)) for _ in range(40)]
        rows.append((i, " ".join(words)))
    rows.append((100, base))
    rows.append((101, base + " extra tail words here"))  # near-dup of 100
    rows.append((102, base.replace("quick", "slow")))  # near-dup of 100
    rows.append((103, base))  # exact dup of 100
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, dup_docs):
    groups = webtext.exact_dedup_groups(dup_docs).collect()
    sizes = sorted(g["n_dups"] for g in groups)
    assert sizes[-1] == 2  # 100 & 103
    g2 = [g for g in groups if g["n_dups"] == 2][0]
    assert g2["rep_doc_id"] == 100
    kept = webtext.drop_exact_dups(dup_docs)
    assert kept.count() == dup_docs.count() - 1
    assert kept.filter(F.col("doc_id") == 103).count() == 0


def test_minhash_estimates_jaccard(spark, dup_docs):
    sigs = {r["doc_id"]: r["sig"] for r in webtext.minhash_signatures(dup_docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    for a, b in [(100, 101), (100, 102), (100, 103), (0, 1)]:
        true_j = _jaccard(_shingles(texts[a]), _shingles(texts[b]))
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / len(sigs[a])
        assert abs(est - true_j) < 0.3, (a, b, true_j, est)
    assert sigs[100] == sigs[103]  # identical docs -> identical signatures


def test_minhash_signatures_chunked_match_unchunked(spark, dup_docs, monkeypatch):
    """A batch hashed in whole-document chunks under a small shingle
    budget gives bit-identical signatures: the same as one chunk per
    batch and as a per-document numpy reference. The corpus has empty,
    NULL, shorter-than-k and non-ASCII texts, and documents longer than
    the budget (a chunk of their own)."""
    extra = spark.createDataFrame(
        [(200, ""), (201, None), (202, "abc"), (203, "été ünïcode ﬁ 東京 " * 5),
         (204, "long " * 80)],
        "doc_id long, text string",
    )
    docs = dup_docs.unionByName(extra).coalesce(1)  # one batch, many chunks

    def sigs(budget):
        monkeypatch.setattr(webtext, "_MINHASH_CHUNK_SHINGLES", budget)
        return {r["doc_id"]: list(r["sig"]) for r in webtext.minhash_signatures(docs).collect()}

    texts = [r["text"] or "" for r in docs.orderBy("doc_id").collect()]
    chunks = list(webtext._doc_chunks(texts, 5, 120))
    assert len(chunks) > 10 and any(hi - lo == 1 for lo, hi in chunks)
    assert chunks[0][0] == 0 and chunks[-1][1] == len(texts)
    assert all(a[1] == b[0] for a, b in zip(chunks, chunks[1:]))

    chunked = sigs(120)
    assert chunked == sigs(1 << 62)
    a, b = webtext._minhash_params()
    for r in docs.collect():
        h = webtext._shingle_hashes(r["text"] or "", 5)
        want = ((a[:, None] * h[None, :] + b[:, None]) % np.uint64(webtext._P31)).min(axis=1)
        assert chunked[r["doc_id"]] == want.astype(np.int64).tolist(), r["doc_id"]


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in webtext.minhash_lsh_pairs(dup_docs, threshold=0.5).collect()
    }
    assert (100, 103) in pairs and pairs[(100, 103)] == 1.0
    assert (100, 101) in pairs or (100, 102) in pairs
    # unrelated docs never pair
    assert not any(a < 30 and b < 30 for (a, b) in pairs)


def test_simhash_locality(spark, dup_docs):
    sh = {r["doc_id"]: r["simhash"] for r in webtext.simhash64(dup_docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert sh[100] == sh[103]
    assert ham(sh[100], sh[102]) < 12  # one-token change: small distance
    assert ham(sh[0], sh[100]) > 16  # unrelated: large distance


def test_fingerprint_deterministic(spark, dup_docs):
    a = {r["doc_id"]: r["fingerprint"] for r in webtext.fingerprint(dup_docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in webtext.fingerprint(dup_docs).collect()}
    assert a == b
    assert a[100] == a[103]
    assert a[0] != a[1]


def test_ngram_jaccard_pairs(spark, dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in webtext.ngram_jaccard_pairs(dup_docs, threshold=0.3).collect()
    }
    assert pairs[(100, 103)] == 1.0
    assert (100, 101) in pairs


@pytest.fixture(scope="module")
def embeddings_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_lsh_ann_recall(spark, embeddings_df):
    """LSH-bucketed ANN must reach >=60% recall@10 vs brute force on the
    synthetic embeddings (clustered labels make this easy)."""
    qids = [0, 1, 2, 3, 4]
    brute = webtext.cosine_topk_brute(embeddings_df, qids, k=10).collect()
    approx = webtext.lsh_bucket_ann(embeddings_df, qids, k=10).collect()
    b = {}
    for r in brute:
        b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(a.get(q, set()) & b[q]) / len(b[q]) for q in b]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_brute_ann_size_gate_and_auto_routing(spark, embeddings_df, monkeypatch):
    """VERDICT r04 'Next round' #2 done-criterion: the brute path's
    driver-side collect is size-gated — a corpus over MAX_BRUTE_VECTORS
    raises loudly (naming the scale paths) instead of OOMing at 100x,
    and ann_topk(auto) routes big inputs to the distributed IVF path
    while small inputs stay exact-brute."""
    n = embeddings_df.count()
    brute = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in webtext.cosine_topk_brute(embeddings_df, [0, 1], k=5).collect()
    }
    ivf_calls = []
    ivf_ann = webtext.ivf_ann
    monkeypatch.setattr(
        webtext, "ivf_ann", lambda *a, **kw: ivf_calls.append(1) or ivf_ann(*a, **kw)
    )
    # at the limit: the brute path runs, and auto routing is identical to it
    monkeypatch.setattr(webtext, "MAX_BRUTE_VECTORS", n)
    assert {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in webtext.cosine_topk_brute(embeddings_df, [0, 1], k=5).collect()
    } == brute
    small = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in webtext.ann_topk(embeddings_df, [0, 1], k=5).collect()
    }
    assert small == brute and not ivf_calls
    # one over the limit: the brute path refuses, and auto routes to IVF
    # (same schema, runs distributed, never reaches the driver collect)
    monkeypatch.setattr(webtext, "MAX_BRUTE_VECTORS", n - 1)
    with pytest.raises(ValueError, match="ann_topk"):
        webtext.cosine_topk_brute(embeddings_df, [0], k=3)
    routed = webtext.ann_topk(embeddings_df, [0, 1], k=5)
    assert ivf_calls == [1]
    rows = routed.collect()
    assert routed.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
    assert {r["query_id"] for r in rows} == {0, 1}
    ivf = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_ann(embeddings_df, [0, 1], k=5).collect()
    }
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows} == ivf


def test_export_layer_size_gate(spark, monkeypatch):
    """results_to_geojson refuses to broadcast a layer over
    MAX_EXPORT_FEATURES instead of collecting it to the driver."""
    from insideout_spark.plans import export as ex

    class _FakeBundle:
        def __init__(self, df):
            self.features = df

    ring = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]
    feats = spark.createDataFrame(
        [(i, 0, ring, {"n": str(i)}) for i in range(10)],
        "feature_id long, loop_pos int, ring array<array<double>>, "
        "properties map<string,string>",
    )
    res = spark.createDataFrame([(1, 0)], "feature_id long, loop_pos int")
    monkeypatch.setattr(ex, "MAX_EXPORT_FEATURES", 10)
    out = ex.results_to_geojson(res, _FakeBundle(feats)).collect()
    assert '"insided_fid": 1' in out[0]["feature_geojson"]
    monkeypatch.setattr(ex, "MAX_EXPORT_FEATURES", 9)
    with pytest.raises(ValueError, match="MAX_EXPORT_FEATURES"):
        ex.results_to_geojson(res, _FakeBundle(feats))


def test_driver_collect_gates_read_their_input_once(
    spark, embeddings_df, houat_index, jobs_started
):
    """The jobs each driver-collect operator starts while its frame is
    built. The size gate is the bounded collect itself
    (`util.collect_at_most`), so no operator counts its input before
    reading it; lsh_bucket_ann sizes n and dim in one aggregate. The
    comments give the jobs of the count-then-collect gates this
    replaced, on the same inputs."""
    import pandas as pd

    from insideout_spark.plans.export import results_to_geojson
    from insideout_spark.plans.knn import knn_join
    from insideout_spark.plans.pip_join import pip_join
    from insideout_spark.sources.pages import extract_points, synth_pages

    embeddings_df.count()  # the cached corpus is materialized up front
    q = [0, 1]
    assert jobs_started(lambda: webtext.cosine_topk_brute(embeddings_df, q, k=5)) == 1  # was 3
    assert jobs_started(lambda: webtext.ann_topk(embeddings_df, q, k=5)) == 1  # was 5
    assert jobs_started(lambda: webtext.lsh_bucket_ann(embeddings_df, q, k=5)) == 2  # was 3
    hits = pip_join(extract_points(synth_pages(spark, 50)), houat_index)
    assert jobs_started(lambda: results_to_geojson(hits, houat_index)) == 2  # was 5
    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(200), "lat": rng.uniform(44, 50, 200), "lng": rng.uniform(-3, 6, 200)}
    ))
    tgt = spark.createDataFrame(pd.DataFrame(
        {"target_id": np.arange(25), "lat": rng.uniform(44, 50, 25), "lng": rng.uniform(-3, 6, 25)}
    ))
    assert jobs_started(lambda: knn_join(pts, tgt, 3)) == 0  # was 2


def test_brute_topk_self_excluded(spark, embeddings_df):
    res = webtext.cosine_topk_brute(embeddings_df, [0, 1], k=5).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in res)
    ranks = sorted(r["rank"] for r in res if r["query_id"] == 0)
    assert ranks == [1, 2, 3, 4, 5]


def test_multimodal_plumbing(spark, dup_docs):
    media = synth_media(dup_docs)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == dup_docs.count()
    assert all(r["feat_std"] >= 0.0 for r in rows)
    # deterministic across runs
    again = {r["doc_id"]: r["feat_mean"] for r in extract_media_features(media).collect()}
    assert {r["doc_id"]: r["feat_mean"] for r in rows} == again
    # frame sampling only for videos, correct stride
    frames = sample_frames(media, every_nth=5).collect()
    assert all(r["frame_idx"] % 5 == 0 for r in frames)
    vids = media.filter(F.col("media_type") == "video/mp4").count()
    assert len({r["doc_id"] for r in frames}) == vids
    # resize preserves aspect within rounding
    rz = resize_plan(media, max_side=100).collect()
    assert all(max(r["target_w"], r["target_h"]) <= 101 for r in rz)


def test_ivf_ann_recall(spark, embeddings_df):
    """IVF ANN reaches >=60% recall@10 vs brute force while scanning only
    n_probe/n_lists of the corpus."""
    qids = [0, 1, 2, 3, 4]
    brute = webtext.cosine_topk_brute(embeddings_df, qids, k=10).collect()
    approx = webtext.ivf_ann(embeddings_df, qids, k=10, n_lists=16, n_probe=6).collect()
    b, a = {}, {}
    for r in brute:
        b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(a.get(q, set()) & b[q]) / len(b[q]) for q in b]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_deterministic(spark, embeddings_df):
    x = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in webtext.ivf_ann(embeddings_df, [0, 1], k=5).collect()}
    y = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in webtext.ivf_ann(embeddings_df, [0, 1], k=5).collect()}
    assert x == y


def test_ngram_blocking_survives_first_token_skew(spark):
    """VERDICT r01 'What's wrong' #3: a corpus where EVERY doc starts
    with the same stopword must not collapse into one quadratic block.
    With bigram blocking the 2000 docs spread across ~2000 blocks; the
    planted near-dup pair (same opening bigram) is still found."""
    import time

    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    rows = []
    for i in range(2000):
        words = ["".join(rng.choice(letters, 6)) for _ in range(25)]
        rows.append((i, "the " + " ".join(words)))  # shared first token
    near = "the zz " + " ".join("tok%d" % j for j in range(30))
    rows.append((5000, near))
    rows.append((5001, near + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.time()
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in webtext.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    elapsed = time.time() - t0
    assert (5000, 5001) in pairs
    assert not any(a < 2000 and b < 2000 for (a, b) in pairs)
    # one quadratic block of 2000 docs would be ~2M exact Jaccards; the
    # bigram blocks make this effectively linear
    assert elapsed < 60, elapsed


def test_simhash_batch_boundaries(spark):
    """Vectorized simhash handles empty docs, single-token docs, and
    docs at batch edges identically to a scalar recomputation."""
    rows = [(0, ""), (1, "one"), (2, "alpha beta gamma"), (3, "one"),
            (4, "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in webtext.simhash64(docs).collect()}
    assert got[0] == 0
    assert got[1] == got[3]  # same token -> same hash
    assert got[2] != got[4]

    # scalar reference for doc 2
    hs = [_scalar_token_hash(t) for t in "alpha beta gamma".split()]
    v = np.zeros(64, dtype=np.int64)
    for h in hs:
        for b in range(64):
            v[b] += 1 if (h >> b) & 1 else -1
    want = np.uint64(0)
    for b in range(64):
        if v[b] > 0:
            want |= np.uint64(1) << np.uint64(b)
    assert got[2] == int(want.view(np.int64))


def _near_dup_cluster_rows(n_cluster: int, n_random: int, seed: int = 23):
    """n_cluster near-identical docs (shared 60-word base + one unique
    trailing word — survives exact dedup, collides in every MinHash
    band) plus n_random unrelated docs."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    base = " ".join("".join(rng.choice(letters, 7)) for _ in range(60))
    rows = [(i, f"{base} uniq{i}") for i in range(n_cluster)]
    for j in range(n_random):
        words = ["".join(rng.choice(letters, 7)) for _ in range(60)]
        rows.append((10_000 + j, " ".join(words)))
    return rows


def _components_of(pairs, nodes):
    """Tiny union-find over a pair set — test-side cluster comparison."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for n in parent:
        out.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in out.values()}


def test_lsh_bucket_cap_bounds_near_dup_cluster_skew(spark):
    """VERDICT r02 'What's wrong' #1: a 5,000-doc near-identical cluster
    (NOT exact dups, so upstream exact dedup can't remove it) lands in
    one bucket per band; uncapped, that's ~12.5M candidate pairs per
    band. With the chain cap the candidate count is bounded linear, the
    run completes fast, and the cluster stays CONNECTED (one component
    over the emitted pairs)."""
    import time

    docs = spark.createDataFrame(
        _near_dup_cluster_rows(5000, 50), "doc_id long, text string"
    )
    t0 = time.time()
    pairs = webtext.minhash_lsh_pairs(docs, threshold=0.5, bucket_cap=64).collect()
    elapsed = time.time() - t0
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # bounded: chain emits <= (bands x cluster) pairs, never the clique
    assert len(got) <= 8 * 5000 + 1000, len(got)
    # the cluster is still found AND connected: near-identical members
    # sort adjacent by signature, so chain edges pass the threshold
    comps = _components_of(got, set(range(5000)))
    biggest = max(comps, key=len)
    assert len(biggest) >= 4500, len(biggest)
    # no random doc joins the cluster
    assert not any(a >= 10_000 or b >= 10_000 for (a, b) in got)
    assert elapsed < 120, elapsed
    # observability: the capped-bucket counter reports the skew
    sigs = webtext.minhash_signatures(docs)
    rows_per_band = webtext._MINHASH_PERMS // webtext._LSH_BANDS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.concat_ws("_", *[
                        F.col("sig")[j].cast("string")
                        for j in range(i * rows_per_band, (i + 1) * rows_per_band)
                    ]).alias("bh"),
                )
                for i in range(webtext._LSH_BANDS)
            ])
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")
    stats = webtext.lsh_bucket_stats(bands, ["band", "bh"], "doc_id", 64).first()
    assert stats["n_capped_buckets"] >= 8
    assert stats["clique_pairs_saved"] > 1_000_000


def test_capped_pairs_match_duckdb_chain_oracle(spark):
    """The chain-cap semantics are themselves oracle-gated: at a LOW cap
    (8) on a 200-doc near-dup cluster, Spark's capped pair set (clique
    under the cap, signature-ordered chain over it) must equal the
    generated DuckDB SQL bit-for-bit — the driver-gate mechanism
    exercising the cap LOGIC, not just 'cap never fires'."""
    import duckdb
    import pandas as pd

    from insideout_spark.plans import webtext_sql

    rows = _near_dup_cluster_rows(200, 30)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = set(
        map(tuple, con.execute(
            webtext_sql.minhash_pairs_sql(threshold=0.35, bucket_cap=8)
        ).fetchall())
    )
    assert got == want


def test_ngram_bigram_block_skew_wall_time(spark):
    """VERDICT r02 'Next round' #8: 50% of 5,000 docs share the opening
    bigram (the BLOCK KEY itself, not just the first token) — half the
    corpus in one block. The planted near-dup inside the shared block
    is found, nothing else pairs, and the wall time stays bounded."""
    import time

    from insideout_spark.sources.pages import synth_skewed_docs

    docs = synth_skewed_docs(spark, 5000)
    # uncapped: the size-ratio prefilter + cheap intersections carry the
    # quadratic block; the planted member-member pair is found
    t0 = time.time()
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in webtext.ngram_jaccard_pairs(
            docs, threshold=0.3, block_cap=None
        ).collect()
    }
    elapsed = time.time() - t0
    assert (50_000, 50_002) in pairs
    assert len(pairs) <= 5, sorted(pairs)[:10]
    # guards bounded-not-quadratic: the unblocked worst case is tens of
    # minutes. The bound is deliberately loose — this VM's floor drifts
    # 2-3x between sessions (BASELINE.md), and 90 s flaked at 92 s.
    assert elapsed < 240, elapsed
    # default cap (1024 < the 2502-doc block): the block is starred to
    # rep doc 0, whose body matches nobody — the planted member-member
    # pair is NOT emitted. That's the documented star recall trade
    # (r04); MinHash is the general near-dup path for capped scales.
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in webtext.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (50_000, 50_002) not in capped and len(capped) == 0


def test_simhash_adversarial_long_token_bounded_memory(spark):
    """VERDICT r02 'What's wrong' #2: one 100k-char token in a batch of
    10k normal tokens must not size the dense codepoint matrix by the
    longest token (10k x 100k x 8B ~ 8 GB). Length-sorted chunking
    bounds the transient to ~64 MB; the hash stays EXACT — verified
    against a scalar per-token recomputation."""
    from insideout_spark.plans.webtext import _token_hashes_u64

    rng = np.random.default_rng(3)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    toks = ["".join(rng.choice(letters, 6)) for _ in range(10_000)]
    toks[1234] = "z" * 100_000  # the adversarial token
    got = _token_hashes_u64(toks)

    for i in (0, 1234, 9999, 17):
        assert int(got[i]) == _scalar_token_hash(toks[i]), i
    # end-to-end through the operator: a doc containing the long token
    docs = spark.createDataFrame(
        [(0, " ".join(toks[:50])), (1, "short doc " + "z" * 100_000)],
        "doc_id long, text string",
    )
    rows = webtext.simhash64(docs).collect()
    assert len(rows) == 2


def test_token_hash_chunks_under_tiny_budget(monkeypatch):
    """A budget of a few dozen codepoint-matrix elements cuts the
    length-sorted tokens into many chunks, one of them a single token
    longer than the whole budget. The chunk bounds are those of the
    per-token greedy walk (grow a chunk while (size) x (its longest
    token) fits), and every hash equals the scalar fold."""
    budget = 40
    monkeypatch.setattr(webtext, "_SIMHASH_MATRIX_BUDGET", budget)
    rng = np.random.default_rng(8)
    toks = ["".join(rng.choice(list("abcdxyz"), int(k))) for k in rng.integers(1, 12, 200)]
    toks += ["", "q" * (budget + 7), "é€"]
    chunks = []
    real = webtext._poly_hash_chunk

    def spy(chunk):
        chunks.append(len(chunk))
        return real(chunk)

    monkeypatch.setattr(webtext, "_poly_hash_chunk", spy)
    got = webtext._token_hashes_u64(toks)

    lens = sorted(max(len(t), 1) for t in toks)
    want, start = [], 0
    while start < len(lens):
        end = start + 1
        while end < len(lens) and (end + 1 - start) * lens[end] <= budget:
            end += 1
        want.append(end - start)
        start = end
    assert chunks == want and len(chunks) > 20 and chunks[-1] == 1

    assert [int(h) for h in got] == [_scalar_token_hash(t) for t in toks]


def test_embedding_near_dup_pairs(spark):
    """Planted near-identical embeddings are found by the LSH-bucketed
    pair op at a high threshold; unrelated random vectors are not."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((50, 64))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(50)]
    # 100/101 = tiny perturbations of vector 0 (cos ~ 0.999)
    rows.append((100, [float(x) for x in base[0] + 0.01 * rng.standard_normal(64)]))
    rows.append((101, [float(x) for x in base[0] + 0.01 * rng.standard_normal(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in webtext.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs
    assert all(v >= 0.95 for v in pairs.values())
    assert not any(a < 50 and b < 50 for (a, b) in pairs)


def test_simhash_pairs_exact_recall_vs_brute(spark, dup_docs):
    """Pigeonhole property: with 4 disjoint 16-bit blocks, the banded
    candidate join finds EVERY pair within Hamming distance 3 — so the
    operator's output must equal a brute-force all-pairs scan of the
    same fingerprints (no probabilistic miss, unlike MinHash)."""
    sh = {r["doc_id"]: r["simhash"] for r in webtext.simhash64(dup_docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(sh)
    brute = {
        (a, b, ham(sh[a], sh[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(sh[a], sh[b]) <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in webtext.simhash_near_dup_pairs(dup_docs).collect()
    }
    assert got == brute
    # the planted exact dup (100/103) is a hamming-0 pair
    assert (100, 103, 0) in got


def test_simhash_pairs_bucket_cap_chain(spark):
    """A near-identical cluster under a tiny bucket cap collapses to a
    sorted-neighborhood chain (consecutive members in fingerprint-then-
    id order): every member still connects to the cluster, and the pair
    count is linear, not quadratic."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(i, base) for i in range(20)]  # identical => identical simhash
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = webtext.simhash_near_dup_pairs(df, bucket_cap=5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # chain: 19 consecutive pairs (fingerprints tie -> id order), not
    # C(20,2)=190
    assert got == {(b, b + 1) for b in range(19)}
    assert all(r["hamming"] == 0 for r in pairs)


def test_vocab_topk(spark, dup_docs):
    """Top-k vocabulary: deterministic (count desc, token asc) order,
    dense correct counts on a known corpus."""
    out = webtext.vocab_topk(dup_docs, k=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    # 'the' appears 5x in the base sentence, which exists ~4x (+variants)
    assert out[0]["token"] == "the"
    assert out[0]["n_docs"] == 4  # docs 100-103 only
    # counts non-increasing; ties broken by token ascending
    pairs = [(r["n_occurrences"], r["token"]) for r in out]
    assert all(
        a[0] > b[0] or (a[0] == b[0] and a[1] < b[1])
        for a, b in zip(pairs, pairs[1:])
    )


def test_wav_roundtrip_and_chunk_walk():
    """decode_wav is a real parser: round-trips the generator, and
    handles layouts the generator never writes — an extra odd-sized
    chunk before fmt (RIFF pads odd chunks to even)."""
    import struct

    from insideout_spark.plans import multimodal as mm

    rate, s = mm.decode_wav(mm._synth_wav_bytes(7))
    n, want_rate = mm._wav_params(7)
    assert rate == want_rate and len(s) == n
    # splice an odd-size LIST chunk in front of fmt
    raw = mm._synth_wav_bytes(7)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad to even
    spliced = raw[:12] + extra + raw[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate2, s2 = mm.decode_wav(spliced)
    assert rate2 == rate and (s2 == s).all()
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFFxxxxAVI " + b"\x00" * 32)


def test_bmp_roundtrip_padding_and_topdown():
    """decode_bmp honors bottom-up BGR + row padding (round trip vs the
    generator's logical pixels) AND the negative-height top-down
    variant the generator never writes."""
    import struct

    from insideout_spark.plans import multimodal as mm

    for did in (5, 12, 25):  # widths 6, 13, 1 -> paddings 2, 1, 1
        w, h = mm._bmp_dims(did)
        got = mm.decode_bmp(mm._synth_bmp_bytes(did))
        want = mm._bmp_pixels(did, w, h)
        assert got.shape == (h, w, 3) and (got == want).all()
    # top-down: negative height, rows stored first-row-first
    w, h = 3, 2
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride_pad = b"\x00" * ((-w * 3) % 4)
    body = b"".join(px[y, :, ::-1].tobytes() + stride_pad for y in range(h))
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 0, 0, 0, 0)
    payload = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + info + body
    assert (mm.decode_bmp(payload) == px).all()


def test_minhash_driver_pairs_match_distributed(spark, monkeypatch):
    """The r06 driver-side banded generator (_driver_pairs) must
    produce EXACTLY the distributed join path's pair set — clique and
    chain arms both firing (cap=8 on a 200-doc near-dup cluster) —
    when the size gate flips between the two implementations."""
    from insideout_spark.plans import webtext

    rows = _near_dup_cluster_rows(200, 30)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    native_df = webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8)
    native = {tuple(r) for r in native_df.collect()}
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", 0)
    distributed_df = webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8)
    distributed = {tuple(r) for r in distributed_df.collect()}
    # the driver arm hands its numpy pair arrays on; the join arm cannot
    assert hasattr(native_df, "_io_pairs_np")
    assert not hasattr(distributed_df, "_io_pairs_np")
    assert native == distributed and len(native) > 0


def test_near_dup_with_components_job_count(spark, jobs_started):
    """MinHash pairs + connected components on the 200-doc cluster run
    ONE Spark job: the bounded Arrow read of the persisted signature
    frame, which computes and caches the signatures and hands them to
    the driver arm (no eager count, no second collect), and no job in
    connected_components, which takes the driver arm's numpy pairs
    (`_io_pairs_np`) instead of re-reading the pair frame."""
    from insideout_spark.plans import webtext
    from insideout_spark.plans.components import connected_components

    docs = spark.createDataFrame(
        _near_dup_cluster_rows(200, 30), "doc_id long, text string"
    )

    def build():
        pairs = webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8)
        connected_components(pairs).collect()

    assert jobs_started(build) == 1  # was 4


@pytest.mark.parametrize("op", ["minhash", "simhash"])
def test_near_dup_over_cap_runs_signature_pass_once(spark, monkeypatch, op):
    """Past the driver cap the bounded read still fills the persisted
    signature frame: a MEMORY_AND_DISK block is unrolled whole even
    when the read's per-partition limit stops early (cap 0 reads one
    row), so every partition is cached right after the call and the
    distributed arm reads the cache. Pinned by counting rows through
    the signature Python pass: n per call at caps n (driver arm),
    n - 1 and 0 (distributed arm), none added when the pairs are
    collected, and the same pairs at every cap."""
    from insideout_spark.plans import webtext

    rows = _near_dup_cluster_rows(200, 30)
    n = len(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    name = "minhash_signatures" if op == "minhash" else "simhash64"
    real = getattr(webtext, name)
    seen = spark.sparkContext.accumulator(0)
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo

    def tally_signatures(*args, **kwargs):
        sig = real(*args, **kwargs)

        def tally_signatures_pass(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf

        return sig.mapInPandas(tally_signatures_pass, sig.schema)

    monkeypatch.setattr(webtext, name, tally_signatures)

    def run():
        if op == "minhash":
            return webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8)
        return webtext.simhash_near_dup_pairs(docs, max_hamming=10, bucket_cap=8)

    results = []
    for cap in (n, n - 1, 0):
        monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", cap)
        seen.value = 0
        out = run()
        assert seen.value == n
        [info] = [i for i in storage() if "tally_signatures_pass" in i.name()]
        assert info.numCachedPartitions() == info.numPartitions() == 4
        assert hasattr(out, "_io_pairs_np") == (cap == n)
        results.append({tuple(r) for r in out.collect()})
        assert seen.value == n
    assert results[0] == results[1] == results[2] and len(results[0]) > 0
    webtext.release_signature_caches()


def test_minhash_signatures_table_one_job_and_ragged_rows_raise(spark, jobs_started):
    """`minhash_lsh_pairs(signatures=...)` reads a caller's signature
    table in one job (the bounded read; no count before it). A ragged
    or NULL `sig` row raises ValueError on the driver arm rather than
    being reshaped into the matrix."""
    from insideout_spark.plans import webtext

    rng = np.random.default_rng(3)
    rows = [(i, rng.integers(0, 1 << 31, 32).tolist()) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # 5 exact dups
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")

    pairs = []
    assert jobs_started(
        lambda: pairs.append(webtext.minhash_lsh_pairs(None, signatures=sigs))
    ) == 1  # was 3: a count (two AQE jobs) + the collect
    assert {(a, b) for a, b, _ in pairs[0].collect()} == {(i, 100 + i) for i in range(5)}
    for bad in ([1] * 31, None, [None] + [1] * 31):
        table = spark.createDataFrame(rows + [(999, bad)], "doc_id long, sig array<long>")
        with pytest.raises(ValueError):
            webtext.minhash_lsh_pairs(None, signatures=table)


def test_driver_pairs_budget_falls_back(spark, monkeypatch):
    """A zero candidate budget must route minhash AND simhash through
    their distributed paths with identical results — the scale guard
    for replicated corpora whose cliques explode quadratically (the
    row gate alone measured 368 s driver-side at a derived sf10)."""
    from insideout_spark.plans import webtext

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    mh = {tuple(r) for r in webtext.minhash_lsh_pairs(docs, threshold=0.35).collect()}
    sh = {tuple(r) for r in webtext.simhash_near_dup_pairs(docs).collect()}
    monkeypatch.setattr(webtext, "_DRIVER_PAIRS_CAP", 0)
    assert {
        tuple(r) for r in webtext.minhash_lsh_pairs(docs, threshold=0.35).collect()
    } == mh
    assert {
        tuple(r) for r in webtext.simhash_near_dup_pairs(docs).collect()
    } == sh
    assert len(mh) > 0


def test_simhash_driver_pairs_match_distributed(spark, monkeypatch):
    """The r06 driver-side SimHash generator (_driver_pairs)
    must produce EXACTLY the distributed join path's pair set, chain
    arm included (cap=8 on a near-dup cluster)."""
    from insideout_spark.plans import webtext

    rows = _near_dup_cluster_rows(200, 30)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    native = {
        tuple(r)
        for r in webtext.simhash_near_dup_pairs(
            docs, max_hamming=10, bucket_cap=8
        ).collect()
    }
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", 0)
    distributed = {
        tuple(r)
        for r in webtext.simhash_near_dup_pairs(
            docs, max_hamming=10, bucket_cap=8
        ).collect()
    }
    assert native == distributed and len(native) > 0


@pytest.mark.parametrize("op", ["minhash", "simhash"])
def test_driver_pairs_negative_ids_match_distributed(spark, monkeypatch, op):
    """All-negative doc_ids: the driver arm accepts every id the
    distributed arm accepts, chain arm included (cap=8 on a 200-doc
    near-dup cluster), with an identical non-empty pair set."""
    from insideout_spark.plans import webtext

    rows = [(-1 - i, text) for i, text in _near_dup_cluster_rows(200, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        if op == "minhash":
            return webtext.minhash_lsh_pairs(docs, threshold=0.35, bucket_cap=8)
        return webtext.simhash_near_dup_pairs(docs, max_hamming=10, bucket_cap=8)

    driver_df = run()
    driver = {tuple(r) for r in driver_df.collect()}
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", 0)
    distributed_df = run()
    distributed = {tuple(r) for r in distributed_df.collect()}
    assert hasattr(driver_df, "_io_pairs_np")
    assert not hasattr(distributed_df, "_io_pairs_np")
    assert driver == distributed and len(driver) > 0


def test_minhash_chain_rank_is_signature_string_order(spark, monkeypatch):
    """A capped bucket whose members' "_"-joined signature strings sort
    differently from their numeric values (10 < 1234 < 123 < 55 < 9 as
    strings): both arms chain them in (string, doc_id) order — the
    distributed window's (`__ord`, doc_id) ORDER BY — never in numeric
    order. Docs 6 and 7 share a whole signature, so their tie breaks
    on the id."""
    from insideout_spark.plans import webtext

    # band 0 = (1, 1, 1, 1) for every doc: one bucket of 6 > cap 2; the
    # first band-1 value carries the order; every other value is
    # distinct per doc, so no other band collides (except 6 == 7)
    lead = {4: 9, 3: 10, 2: 123, 1: 1234, 6: 55, 7: 55}
    rows = []
    for doc, v in lead.items():
        rest_id = 6 if doc == 7 else doc
        rest = [1_000_000 + rest_id * 100 + j for j in range(27)]
        rows.append((doc, [1, 1, 1, 1, v] + rest))
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")

    def run():
        return webtext.minhash_lsh_pairs(
            None, signatures=sigs, bucket_cap=2, threshold=0.0
        )

    driver_df = run()
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", 0)
    distributed_df = run()
    assert hasattr(driver_df, "_io_pairs_np")
    assert not hasattr(distributed_df, "_io_pairs_np")
    driver = {tuple(r) for r in driver_df.collect()}
    assert driver == {tuple(r) for r in distributed_df.collect()}
    # string order 10(3) 1234(1) 123(2) 55(6) 55(7) 9(4); the numeric
    # order would chain 4-3-6-7-2-1 instead
    assert {(a, b) for a, b, _ in driver} == {(1, 3), (1, 2), (2, 6), (6, 7), (4, 7)}


def test_driver_pairs_kernel_matches_naive_clique_chain():
    """`_driver_pairs` against a per-bucket Python replay of the
    clique/chain semantics, over random band keys, caps (0, 1 and none
    included), negative ids and chain-rank ties (broken by id)."""
    from insideout_spark.plans import webtext

    rng = np.random.default_rng(0)
    for _ in range(200):
        n = int(rng.integers(1, 60))
        ids = np.sort(rng.choice(np.arange(-500, 500), n, replace=False))
        keys = [
            rng.integers(0, int(rng.integers(1, 6)), (n, int(rng.integers(1, 3))))
            for _ in range(int(rng.integers(1, 4)))
        ]
        cap = [None, 0, 1, 2, 5, 100][int(rng.integers(0, 6))]
        ordkey = rng.integers(0, 4, n)
        a, b, _ = webtext._driver_pairs(
            ids, keys, cap,
            lambda rows: webtext._stable_rank(ordkey[rows]),
            lambda ra, rb: (ra, np.ones(len(ra), dtype=bool)),
        )
        want = set()
        for k in keys:
            buckets: dict = {}
            for r in range(n):
                buckets.setdefault(tuple(k[r]), []).append(r)
            for mem in buckets.values():
                if cap is not None and len(mem) > cap:
                    chain = sorted(mem, key=lambda r: (ordkey[r], ids[r]))
                    edges = zip(chain, chain[1:])
                else:
                    edges = ((x, y) for i, x in enumerate(mem) for y in mem[i + 1:])
                want |= {(min(ids[x], ids[y]), max(ids[x], ids[y])) for x, y in edges}
        assert list(zip(a.tolist(), b.tolist())) == sorted(want)


def _driver_pairs_spy(monkeypatch):
    """Record every `_driver_pairs` call of the pair engine; a call
    that returns None (over the candidate budget) is recorded too."""
    from insideout_spark.plans import webtext

    calls = []
    real = webtext._driver_pairs

    def spy(*args):
        calls.append(len(args[0]))
        return real(*args)

    monkeypatch.setattr(webtext, "_driver_pairs", spy)
    return calls


@pytest.mark.parametrize("ids", ["sf001", "negative_ids"])
def test_emb_driver_pairs_match_distributed(spark, monkeypatch, ids):
    """The embedding operator runs on the banded pair engine: its
    driver arm (`_driver_pairs`, float32-gathered exact dot products)
    and its distributed arm (bucket self-join + Catalyst cosine) give
    EXACTLY the same rows, chain arm included (cap=8 over 16 buckets
    of 500 vectors; threshold -1 keeps every candidate). All-negative
    vec_ids reverse the id order the chain follows. The driver arm
    replaced a worker-side broadcast rescore: on a 4-core VM, min of 5
    alternating reps, sf0.1 went 0.98 s -> 0.51 s and a derived
    20k-vector sf1 4.94 s -> 4.20 s; at 14k vectors (35M candidates)
    the worker rescore crashed its Python workers."""
    from insideout_spark.plans import webtext

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    if ids == "negative_ids":
        embs = embs.withColumn("vec_id", -1 - F.col("vec_id"))

    def run():
        return {
            tuple(r)
            for r in webtext.embedding_near_dup_pairs(
                embs, threshold=-1.0, bucket_cap=8
            ).collect()
        }

    calls = _driver_pairs_spy(monkeypatch)
    driver = run()
    assert calls == [500]
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_ROWS", 0)
    distributed = run()
    assert calls == [500]
    assert driver == distributed and len(driver) > 0


def test_near_dup_driver_arm_byte_gate(spark, monkeypatch):
    """The driver arm also needs the rows to fit _SIG_BROADCAST_BYTES:
    just under n * dim * 8 sends embeddings to the distributed arm,
    while a small MinHash frame (128 B rows) stays on the driver."""
    from insideout_spark.plans import webtext

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    monkeypatch.setattr(webtext, "_SIG_BROADCAST_BYTES", 500 * 64 * 8 - 1)
    calls = _driver_pairs_spy(monkeypatch)
    assert webtext.embedding_near_dup_pairs(embs, threshold=0.4).count() > 0
    assert calls == []
    docs = spark.createDataFrame(
        _near_dup_cluster_rows(200, 30), "doc_id long, text string"
    )
    assert webtext.minhash_lsh_pairs(docs, threshold=0.35).count() > 0
    assert calls == [230]


def test_embedding_near_dup_pairs_empty_input(spark):
    """An empty embedding frame gives an empty pair frame with the
    operator's schema (no dimension to probe, no pairs)."""
    from insideout_spark.plans import webtext

    embs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = webtext.embedding_near_dup_pairs(embs)
    assert out.schema.simpleString() == "struct<vec_a:bigint,vec_b:bigint,cos_sim:double>"
    assert out.collect() == []


def test_minhash_saved_signatures_roundtrip(spark, tmp_path):
    """save_signatures -> parquet -> minhash_lsh_pairs(signatures=...)
    must produce exactly the pairs of the direct path (the corpus-scale
    reuse contract), and the signature caches of direct calls must be
    released by the next near-dup call and by release_signature_caches
    (ADVICE r03)."""
    from insideout_spark.plans import matreg, webtext

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    direct = {
        tuple(r)
        for r in webtext.minhash_lsh_pairs(docs, threshold=0.35).collect()
    }
    path = str(tmp_path / "sigs.parquet")
    webtext.save_signatures(docs, path)
    sigs = spark.read.parquet(path)
    via_saved = {
        tuple(r)
        for r in webtext.minhash_lsh_pairs(
            docs, threshold=0.35, signatures=sigs
        ).collect()
    }
    assert via_saved == direct and len(direct) > 0

    # cache registry: a direct call registers one cache; the next
    # direct call releases it; explicit release empties the key
    webtext.minhash_lsh_pairs(docs, threshold=0.35).count()
    [first] = matreg._REG["signatures"]
    webtext.simhash_near_dup_pairs(docs).count()
    [second] = matreg._REG["signatures"]  # predecessor released
    assert not first.is_cached and second.is_cached
    webtext.release_signature_caches()
    assert "signatures" not in matreg._REG and not second.is_cached


def test_ngram_block_cap_chain_semantics(spark):
    """Blocks over block_cap pair CONSECUTIVE members in (|grams|, id)
    order; sub-cap blocks keep the exact clique (hand-checked corpus)."""
    from insideout_spark.plans import webtext

    rows = [
        # one block of 4 identical docs (block 'x y'), one block of 2
        (1, "x y a b c"),
        (2, "x y a b c"),
        (3, "x y a b c"),
        (4, "x y a b c"),
        (10, "p q r s t"),
        (11, "p q r s t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in webtext.ngram_jaccard_pairs(docs, threshold=0.5, block_cap=None).collect()
    }
    assert uncapped == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11)}
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in webtext.ngram_jaccard_pairs(docs, threshold=0.5, block_cap=3).collect()
    }
    # big block -> chain 1-2-3-4 (sizes tie -> id order); 2-doc block
    # under cap -> clique kept
    assert capped == {(1, 2), (2, 3), (3, 4), (10, 11)}


def test_ngram_family_matches_duckdb_oracle(spark, dup_docs):
    """ngram_jaccard_pairs (default cap and the chain path at
    block_cap=3), bigram_topk and pmi_topk return exactly the rows of
    their DuckDB oracles on the two planted near-dup corpora."""
    import duckdb
    import pandas as pd

    from insideout_spark.plans import webtext_sql

    cluster_rows = _near_dup_cluster_rows(60, 20)
    corpora = [
        (dup_docs, dup_docs.toPandas()),
        (
            spark.createDataFrame(cluster_rows, "doc_id long, text string"),
            pd.DataFrame(cluster_rows, columns=["doc_id", "text"]),
        ),
    ]
    cases = [
        (
            webtext.ngram_jaccard_pairs,
            webtext_sql.ngram_pairs_sql(threshold=0.3, block_cap=1024),
        ),
        (
            lambda d: webtext.ngram_jaccard_pairs(d, threshold=0.2, block_cap=3),
            webtext_sql.ngram_pairs_sql(threshold=0.2, block_cap=3),
        ),
        (lambda d: webtext.bigram_topk(d, k=20), webtext_sql.bigram_topk_sql(k=20)),
        (
            lambda d: webtext.pmi_topk(d, k=20, min_count=2),
            webtext_sql.pmi_topk_sql(k=20, min_count=2),
        ),
    ]
    for docs, pdf in corpora:
        con = duckdb.connect()
        con.register("documents", pdf)
        for op, sql in cases:
            # row order after the top-k's context join is unspecified
            got = sorted(tuple(r) for r in op(docs).collect())
            want = sorted(map(tuple, con.execute(sql).fetchall()))
            assert got == want and len(got) > 0, sql


def test_ngram_pairs_null_text_never_pairs(spark):
    """A NULL-text doc has no block, so it pairs with nothing, not even
    another NULL-text doc or an empty one; the DuckDB oracle agrees
    with and without the block cap's chain path."""
    import duckdb
    import pandas as pd

    from insideout_spark.plans import webtext_sql

    rows = [(1, None), (2, None), (3, ""), (4, "a b c d e"), (5, "a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for cap in (1024, 1):
        got = sorted(
            (r["doc_a"], r["doc_b"])
            for r in webtext.ngram_jaccard_pairs(docs, threshold=0.3, block_cap=cap).collect()
        )
        sql = webtext_sql.ngram_pairs_sql(threshold=0.3, block_cap=cap)
        want = sorted((a, b) for a, b, _ in con.execute(sql).fetchall())
        assert got == want == [(4, 5)], cap


def test_ngram_family_runs_no_job_to_pick_an_arm(spark, dup_docs, jobs_started):
    """No operator of the n-gram family scans its input just to choose
    a shape: building the top-k plans starts no job, and the n-gram
    pairs start only the jobs of their one materialized gram pass."""
    assert jobs_started(lambda: webtext.bigram_topk(dup_docs)) == 0
    assert jobs_started(lambda: webtext.pmi_topk(dup_docs)) == 0
    grams = jobs_started(lambda: webtext._gram_frame(dup_docs, "text", 3))
    assert grams > 0
    pairs = jobs_started(lambda: webtext.ngram_jaccard_pairs(dup_docs))
    assert pairs == grams


def test_match_frac_multi_block_matches_direct():
    """The MinHash rescore's blocked gather (three 512 KB blocks, the
    last one ragged) equals the direct row comparison, as do a 3-pair
    and an empty input."""
    rng = np.random.default_rng(5)
    mat = rng.integers(0, 3, size=(500, 32), dtype=np.int32)
    ia = rng.integers(0, 500, 10_000)
    ib = rng.integers(0, 500, 10_000)
    want = (mat[ia] == mat[ib]).sum(1) / 32
    assert np.array_equal(webtext._match_frac(mat, ia, ib), want)
    assert np.array_equal(webtext._match_frac(mat, ia[:3], ib[:3]), want[:3])
    assert len(webtext._match_frac(mat, ia[:0], ib[:0])) == 0


def test_chain_cap_preserves_clusters_star_would_split(spark):
    """VERDICT r04 'Next round' #4 done-criterion: a capped block whose
    min-id representative FAILS the similarity threshold against far
    members, while consecutive members pass — the r02-r04 star would
    split the cluster; the chain must keep components identical with
    and without the cap."""
    from insideout_spark.plans import webtext

    # sliding-window docs in ONE block ('x y' opening bigram): doc i
    # covers tokens [8i, 8i+30) — consecutive docs overlap 22 tokens
    # (Jaccard ~ 0.57 > 0.5), doc 1 vs doc 5 overlap 0 (Jaccard 0)
    toks = [f"t{j}" for j in range(80)]
    rows = [
        (i, "x y " + " ".join(toks[8 * (i - 1): 8 * (i - 1) + 30]))
        for i in range(1, 6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def comps(block_cap):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in webtext.ngram_jaccard_pairs(
                docs, threshold=0.5, block_cap=block_cap
            ).collect()
        }
        return pairs, _components_of(pairs, {1, 2, 3, 4, 5})

    unc_pairs, unc_comps = comps(None)
    cap_pairs, cap_comps = comps(3)
    # the value-gate premise: rep(1)-far(5) fails, consecutive pass
    assert (1, 2) in unc_pairs and (1, 5) not in unc_pairs
    # star semantics would emit only rep pairs {(1,i)} of which the
    # far ones fail -> {1,2},{1,3}?,... split; chain keeps the path
    assert cap_pairs == {(1, 2), (2, 3), (3, 4), (4, 5)}
    assert cap_comps == unc_comps == {frozenset({1, 2, 3, 4, 5})}


def test_bm25_wide_decimal_matches_duckdb_hugeint(spark):
    """Past the int64 corpus bound (synthetic stats with n_tokens ~ 3e12
    > 2^40 tokens) bm25_topk auto-widens to decimal(38,0) and must stay
    BIT-exact vs the DuckDB HUGEINT oracle; the narrow representation
    agrees with wide wherever it doesn't overflow."""
    import duckdb

    from insideout_spark.plans import webtext, webtext_sql

    rows = [
        (1, "hello world hello again"),
        (2, "hello there"),
        (3, "world of text with many words here"),
        (4, "nothing relevant"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ("hello", "world")
    stats = {
        "n_docs": 1_000_000_000,
        "n_tokens": 3_000_000_000_000,
        "df": {"hello": 7, "world": 11},
        "idf_q": {"hello": 14_000_000, "world": 9_500_000},
    }
    assert webtext.bm25_wide_needed(stats)
    sdf = webtext.bm25_topk(docs, terms, stats, k=10).toPandas()
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    odf = con.execute(webtext_sql.bm25_sql(terms, stats, k=10)).fetchdf()
    sdf = sdf.sort_values("rank").reset_index(drop=True)
    odf = odf.sort_values("rank").reset_index(drop=True)
    assert list(sdf["doc_id"]) == list(odf["doc_id"])
    assert (sdf["score"].to_numpy() == odf["score"].to_numpy()).all()  # bit-exact

    # narrow/wide agreement where narrow is safe (small synthetic corpus)
    small_stats = {
        "n_docs": 100,
        "n_tokens": 5_000,
        "df": {"hello": 2, "world": 2},
        "idf_q": {"hello": 4_000_000, "world": 3_800_000},
    }
    assert not webtext.bm25_wide_needed(small_stats)
    nar = webtext.bm25_topk(docs, terms, small_stats, wide=False).toPandas()
    wid = webtext.bm25_topk(docs, terms, small_stats, wide=True).toPandas()
    nar = nar.sort_values("rank").reset_index(drop=True)
    wid = wid.sort_values("rank").reset_index(drop=True)
    assert list(nar["doc_id"]) == list(wid["doc_id"])
    assert (nar["score"].to_numpy() == wid["score"].to_numpy()).all()


def test_bm25_wide_double_path_matches_decimal(spark, monkeypatch):
    """r06: when the wide representation is needed but every product
    provably fits float64's exact-integer range, bm25_topk runs the
    score in double codegen; it must stay BIT-exact vs the decimal
    path on the same stats."""
    from insideout_spark.plans import webtext

    rows = [
        (1, "hello world hello again"),
        (2, "hello there"),
        (3, "world of text with many words here"),
        (4, "nothing relevant"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ("hello", "world")
    stats = {
        "n_docs": 100,
        "n_tokens": 100_000_000,
        "df": {"hello": 7, "world": 11},
        "idf_q": {"hello": 4_000_000, "world": 3_800_000},
    }
    assert webtext.bm25_wide_needed(stats)
    assert webtext._bm25_double_ok(stats)
    dbl = webtext.bm25_topk(docs, terms, stats, k=10).toPandas()
    monkeypatch.setattr(webtext, "_bm25_double_ok", lambda *_a, **_k: False)
    dec = webtext.bm25_topk(docs, terms, stats, k=10).toPandas()
    dbl = dbl.sort_values("rank").reset_index(drop=True)
    dec = dec.sort_values("rank").reset_index(drop=True)
    assert list(dbl["doc_id"]) == list(dec["doc_id"])
    assert (dbl["score"].to_numpy() == dec["score"].to_numpy()).all()


def test_png_roundtrip_filters_crc_and_multi_idat():
    """decode_png is a real parser: round-trips the generator across
    doc_ids whose per-row filters cover all five types and both RGB
    and RGBA; rejects corrupted CRCs; and handles layouts the
    generator never writes — IDAT split across multiple chunks (the
    spec allows any split of the zlib stream)."""
    import struct
    import zlib

    from insideout_spark.plans import multimodal as mm

    fts = set()
    for did in range(40):
        w, h, c = mm._png_dims(did)
        got = mm.decode_png(mm._synth_png_bytes(did))
        want = mm._png_pixels(did, w, h, c)
        assert got.shape == (h, w, c) and (got == want).all()
        fts.update((did + y) % 5 for y in range(h))
    assert fts == {0, 1, 2, 3, 4}

    # corrupt one IDAT payload byte -> CRC check must fire
    raw = bytearray(mm._synth_png_bytes(9))
    idat = raw.index(b"IDAT")
    raw[idat + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(raw))

    # split the zlib stream across two IDAT chunks
    raw = mm._synth_png_bytes(9)
    sig_ihdr = raw[: 8 + 12 + 13]  # signature + IHDR chunk
    (size,) = struct.unpack(">I", raw[8 + 25 : 8 + 29])
    body = raw[8 + 25 + 8 : 8 + 25 + 8 + size]
    mid = len(body) // 2
    spliced = (
        sig_ihdr
        + mm._png_chunk(b"IDAT", body[:mid])
        + mm._png_chunk(b"IDAT", body[mid:])
        + mm._png_chunk(b"IEND", b"")
    )
    w, h, c = mm._png_dims(9)
    assert (mm.decode_png(spliced) == mm._png_pixels(9, w, h, c)).all()
    # sanity: the reference stream really was zlib (decompresses)
    zlib.decompress(body)

    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"\x89PNX" + b"\x00" * 32)


def test_jpeg_roundtrip_coefficients_and_idct():
    """decode_jpeg is a real baseline decoder: recovers the generator's
    quantized coefficients exactly (entropy layer is lossless) across
    docs covering multiple dims/block counts; its IDCT pixels match a
    brute cosine-sum reference; byte stuffing actually occurs and is
    unstuffed; a generic multi-length DHT table decodes correctly."""
    from insideout_spark.plans import multimodal as mm

    stuffed_seen = False
    for did in range(30):
        w, h = mm._jpeg_dims(did)
        nb = (w // 8) * (h // 8)
        want = mm._jpeg_coefs(did, nb) * mm._JPEG_QUANT[None, :]
        payload = mm._synth_jpeg_bytes(did)
        gw, gh, deq, px = mm.decode_jpeg(payload)
        assert (gw, gh) == (w, h) and (deq == want).all()
        assert px.shape == (h, w) and px.dtype == np.uint8
        # look for stuffing inside the scan (0xFF00 outside markers)
        scan = payload[payload.index(b"\xff\xda") + 14 : -2]
        stuffed_seen = stuffed_seen or b"\xff\x00" in scan
    assert stuffed_seen  # the corpus must exercise byte unstuffing

    # IDCT vs brute cosine-sum on one doc
    did = 7
    w, h = mm._jpeg_dims(did)
    nb = (w // 8) * (h // 8)
    _, _, deq, px = mm.decode_jpeg(mm._synth_jpeg_bytes(did))
    block = np.zeros((nb, 8, 8))
    block[:, mm._ZIGZAG[:, 0], mm._ZIGZAG[:, 1]] = deq
    ref = np.zeros((nb, 8, 8))
    for b in range(nb):
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * block[b, u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                ref[b, x, y] = s / 4
    ref_px = np.clip(np.round(ref + 128), 0, 255).astype(np.uint8)
    ref_img = (
        ref_px.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )
    assert (ref_img == px).all()

    # generic DHT handling: a MIXED-length canonical table (lengths 2/3)
    # decodes symbols correctly per the spec's code construction
    table = mm._build_huffman([0, 0, 2, 2] + [0] * 13, [7, 8, 9, 10])
    # canonical: len2 codes 00,01 -> 7,8; len3 codes 100,101 -> 9,10
    br = mm._BitReader(bytes([0b00011001, 0b01000000]))
    assert [mm._huff_decode(br, table) for _ in range(4)] == [7, 8, 9, 10]

    with pytest.raises(ValueError, match="not a JPEG"):
        mm.decode_jpeg(b"\xff\xd9" + b"\x00" * 16)


def test_zigzag_is_the_spec_table():
    """Pin _ZIGZAG to the canonical ITU T.81 scan (not its transpose):
    index 1 must be (0,1) and the flat row*8+col sequence must start
    0,1,8,16,9,2,3,10,17,24,... A transposed table would keep every
    internal encoder/decoder round trip green while misplacing AC
    coefficients of any spec-compliant external JPEG."""
    from insideout_spark.plans import multimodal as mm

    flat = (mm._ZIGZAG[:, 0] * 8 + mm._ZIGZAG[:, 1]).tolist()
    # canonical zigzag table, ITU T.81 Figure 5 (flat row-major index)
    spec = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert len(spec) == 64 and sorted(spec) == list(range(64))
    assert tuple(mm._ZIGZAG[1]) == (0, 1)
    assert flat == spec


def test_mp4_demux_rejects_mdhd_v1():
    """A version-1 mdhd (64-bit times) must raise, not silently parse
    the v0 layout into a garbage timescale."""
    import struct

    from insideout_spark.plans import multimodal as mm

    payload = bytearray(mm._synth_mp4_bytes(3))
    boxes: dict = {}
    mm._walk_boxes(bytes(payload), 0, len(payload), boxes)
    s, _ = boxes["/moov/trak/mdia/mdhd"]
    payload[s] = 1  # flip version byte to 1
    with pytest.raises(ValueError, match="mdhd version 1"):
        mm.demux_mp4(bytes(payload))


def test_mp4_demux_roundtrip_and_fixed_size_branch():
    """demux_mp4 is a real ISO BMFF demuxer: every sample slices back
    byte-identical through the stsc/stco chunk resolution across docs
    covering 1..14-chunk layouts; the fixed-size stsz branch (which the
    generator never writes) parses a hand-built file; truncated boxes
    raise."""
    import struct

    from insideout_spark.plans import multimodal as mm

    for did in (0, 3, 7, 19, 24, 30):
        n, ts = mm._mp4_params(did)
        sizes = mm._mp4_sample_sizes(did, n)
        gts, gdur, samples = mm.demux_mp4(mm._synth_mp4_bytes(did))
        assert gts == ts and len(samples) == n
        assert gdur == sum(10 + (i % 3) for i in range(n))
        for i, sb in enumerate(samples):
            assert sb == mm._mp4_sample_bytes(did, i, int(sizes[i]))

    # hand-built file: 4 samples of FIXED size 8, one chunk
    body = bytes(range(32))
    ftyp = mm._box(b"ftyp", b"isom\x00\x00\x02\x00")
    stsd = mm._box(b"stsd", struct.pack(">II", 0, 1) + mm._box(b"fake", b"\x00" * 8))
    stts = mm._box(b"stts", struct.pack(">IIII", 0, 1, 4, 5))
    stsz = mm._box(b"stsz", struct.pack(">III", 0, 8, 4))  # fixed=8
    stsc = mm._box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 4, 1))

    def build(off):
        stco = mm._box(b"stco", struct.pack(">III", 0, 1, off))
        stbl = mm._box(b"stbl", stsd + stts + stsc + stsz + stco)
        mdhd = mm._box(b"mdhd", struct.pack(">IIIIIHH", 0, 0, 0, 1000, 20, 0, 0))
        hdlr = mm._box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
        mdia = mm._box(b"mdia", mdhd + hdlr + mm._box(b"minf", stbl))
        trak = mm._box(b"trak", mm._box(b"tkhd", b"\x00" * 84) + mdia)
        mvhd = mm._box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, 1000, 20) + b"\x00" * 80)
        return mm._box(b"moov", mvhd + trak)

    probe = build(0)
    off = len(ftyp) + len(probe) + 8
    payload = ftyp + build(off) + mm._box(b"mdat", body)
    ts, dur, samples = mm.demux_mp4(payload)
    assert ts == 1000 and dur == 20
    assert [bytes(s) for s in samples] == [body[i * 8 : (i + 1) * 8] for i in range(4)]

    with pytest.raises(ValueError):
        mm.demux_mp4(payload[:40])  # truncated box tree


def test_extract_sampled_frames_real_bytes(spark):
    """extract_sampled_frames returns the TRUE mdat bytes of every 5th
    sample (not metadata arithmetic) — compared against the generator
    formula per frame."""
    from insideout_spark.plans import multimodal as mm

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        (r["doc_id"], r["frame_idx"]): (bytes(r["frame_bytes"]), r["frame_len"])
        for r in mm.extract_sampled_frames(mm.synth_mp4_media(docs), 5).collect()
    }
    want = {}
    for did in range(12):
        n, _ = mm._mp4_params(did)
        sizes = mm._mp4_sample_sizes(did, n)
        for i in range(0, n, 5):
            b = mm._mp4_sample_bytes(did, i, int(sizes[i]))
            want[(did, i)] = (b, len(b))
    assert got == want and len(got) > 12


def test_dedup_keep_best_and_decontaminate(spark, dup_docs):
    """dedup_keep_best keeps exactly one member per near-dup cluster —
    the LONGEST (doc_id tiebreak) — and every singleton;
    decontaminate_split keeps all val/test rows and drops exactly the
    train rows sharing a component with an eval doc."""
    from insideout_spark.plans import webtext

    kb = {r["doc_id"]: r for r in webtext.dedup_keep_best(dup_docs).collect()}
    assert set(kb) == {r["doc_id"] for r in dup_docs.select("doc_id").collect()}
    # exactly one keeper per component
    by_comp = {}
    for r in kb.values():
        by_comp.setdefault(r["component_id"], []).append(r)
    for comp, rows in by_comp.items():
        keepers = [r for r in rows if r["keep"]]
        assert len(keepers) == 1, comp
        # the keeper is max-length then min-id within the component
        lens = {
            r["doc_id"]: len(t)
            for r, t in (
                (r, d["text"])
                for r in rows
                for d in dup_docs.filter(F.col("doc_id") == r["doc_id"]).collect()
            )
        }
        best = sorted(rows, key=lambda r: (-lens[r["doc_id"]], r["doc_id"]))[0]
        assert keepers[0]["doc_id"] == best["doc_id"]

    dc = {r["doc_id"]: r for r in webtext.decontaminate_split(dup_docs).collect()}
    for r in dc.values():
        comp_rows = [x for x in dc.values() if x["component_id"] == r["component_id"]]
        has_eval = any(x["split"] != "train" for x in comp_rows)
        if r["split"] != "train":
            assert r["keep"]
        else:
            assert r["keep"] == (not has_eval)


def test_dup_span_stats_known_corpus(spark):
    """Hand-checked repeated-span detection: docs 1/2 share one 8-token
    span (planted), doc 3 is unique, doc 4 is too short for any window,
    doc 5 repeats a span only WITHIN itself (must NOT count — the rule
    is >= 2 distinct docs)."""
    from insideout_spark.plans import webtext

    span = "a b c d e f g h"  # exactly _SPAN_K tokens
    rows = [
        (1, span + " x1 x2 x3"),
        (2, "y1 y2 " + span),
        (3, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
        (4, "too short"),
        (5, " ".join(["w"] * 20)),  # self-repeating windows only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in webtext.dup_span_stats(docs).collect()}
    # doc 1: 11 tokens -> 4 windows, exactly ONE (the planted span,
    # window at offset 0) is shared with doc 2
    assert (got[1]["n_windows"], got[1]["n_dup_windows"]) == (4, 1)
    assert got[1]["dup_frac"] == 0.25
    # doc 2: 10 tokens -> 3 windows, the one at offset 2 is shared
    assert (got[2]["n_windows"], got[2]["n_dup_windows"]) == (3, 1)
    # doc 3: unique text, no dups
    assert got[3]["n_dup_windows"] == 0 and got[3]["n_windows"] == 2
    # doc 4: no window at all -> NULL dup_frac
    assert got[4]["n_windows"] == 0 and got[4]["dup_frac"] is None
    # doc 5: 13 identical windows but only ONE distinct doc -> no dups
    assert got[5]["n_windows"] == 13 and got[5]["n_dup_windows"] == 0


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """Hand-checked CCNet-style paragraph dedup (seg_tokens=4): the
    globally-first occurrence of a duplicated segment (min doc_id,
    seg_no) survives, all later copies drop, and each doc is rebuilt
    from its surviving segments in original order."""
    from insideout_spark.plans import webtext

    seg = "p q r s"  # one full 4-token segment
    rows = [
        (1, seg + " a1 a2 a3 a4"),          # segs: [seg, "a1 a2 a3 a4"]
        (2, "b1 b2 b3 b4 " + seg),          # second copy of seg -> drops
        (3, seg),                            # third copy -> drops entirely
        (4, "c1 c2 c3 c4 c5"),               # ragged tail segment "c5"
        (5, seg + " " + seg),                # self-dup: later seg drops
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in webtext.paragraph_dedup(docs, seg_tokens=4).collect()
    }
    assert (got[1]["segs_total"], got[1]["segs_kept"]) == (2, 2)
    assert got[1]["text_dedup"] == seg + " a1 a2 a3 a4"
    assert (got[2]["segs_total"], got[2]["segs_kept"]) == (2, 1)
    assert got[2]["text_dedup"] == "b1 b2 b3 b4"
    # doc 3 is all-duplicate: present with empty rebuilt text
    assert (got[3]["segs_total"], got[3]["segs_kept"]) == (1, 0)
    assert got[3]["text_dedup"] == ""
    # ragged tail is its own segment
    assert (got[4]["segs_total"], got[4]["segs_kept"]) == (2, 2)
    assert got[4]["text_dedup"] == "c1 c2 c3 c4 c5"
    # within-doc repeat: first copy keeps, second drops
    assert (got[5]["segs_total"], got[5]["segs_kept"]) == (2, 0)


def test_resize_image_features_real_nn(spark):
    """resize_image_features samples the REAL decoded pixels: per doc,
    the resized raster equals a hand-computed nearest-neighbor sample
    of the generator pixel array (index map sx=(2x+1)*w//(2*tw)), dims
    never upscale, and the stats match."""
    from insideout_spark.plans import multimodal as mm

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    got = {
        r["doc_id"]: r
        for r in mm.resize_image_features(mm.synth_bmp_media(docs), max_side=4).collect()
    }
    for did in range(20):
        w, h = mm._bmp_dims(did)
        px = mm._bmp_pixels(did, w, h).astype(np.int64)
        mx = max(w, h)
        tw, th = (w, h) if mx <= 4 else (max(1, w * 4 // mx), max(1, h * 4 // mx))
        sx = ((2 * np.arange(tw) + 1) * w) // (2 * tw)
        sy = ((2 * np.arange(th) + 1) * h) // (2 * th)
        res = px[sy][:, sx]
        r = got[did]
        assert (r["target_w"], r["target_h"]) == (tw, th)
        assert r["target_w"] <= max(w, 4) and r["target_h"] <= max(h, 4)
        assert r["sum_r"] == int(res[:, :, 0].sum())
        assert r["sum_g"] == int(res[:, :, 1].sum())
        assert r["sum_b"] == int(res[:, :, 2].sum())
        flat = res[:, :, 0].reshape(-1)
        assert r["wsum_r"] == int((np.arange(1, len(flat) + 1) * flat).sum())
    # the corpus exercises both the no-upscale branch (w,h <= 4) and
    # real downsampling (w up to 13)
    assert any(max(mm._bmp_dims(d)) <= 4 for d in range(20))
    assert any(max(mm._bmp_dims(d)) > 4 for d in range(20))


def test_mjpeg_real_video_pixels(spark):
    """VERDICT r04 'Next round' #3 done-criterion: MJPEG frames are
    real JPEGs inside a real MP4 — every frame's decoded pixels match
    the brute cosine-sum IDCT of the generator's coefficients, and the
    per-frame coefficient stats match the formula replay."""
    from insideout_spark.plans import multimodal as mm

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in mm.video_frame_pixel_features(mm.synth_mjpeg_media(docs)).collect()
    }
    n_checked = 0
    for did in range(8):
        n, _ = mm._mjpeg_params(did)
        for i in range(n):
            fid = mm._mjpeg_frame_id(did, i)
            w, h = mm._jpeg_dims(fid)
            nb = (w // 8) * (h // 8)
            want = mm._jpeg_coefs(fid, nb) * mm._JPEG_QUANT[None, :]
            r = got[(did, i)]
            assert (r["width"], r["height"]) == (w, h)
            assert r["sum_dc"] == int(want[:, 0].sum())
            assert r["sum_abs_deq"] == int(np.abs(want).sum())
            # pixel realness: the frame's REAL pixels equal the brute
            # cosine-sum IDCT of the generator coefficients
            _, _, deq, px = mm.decode_jpeg(mm._synth_jpeg_bytes(fid))
            assert (deq == want).all()
            assert r["sum_px"] == int(px.sum(dtype=np.int64))
            n_checked += 1
    assert n_checked >= 8 * 3
    # and a brute IDCT cross-check on one frame (decode_jpeg's pixel
    # path itself is brute-verified in test_jpeg_roundtrip_*)
    fid = mm._mjpeg_frame_id(5, 2)
    w, h = mm._jpeg_dims(fid)
    nb = (w // 8) * (h // 8)
    _, _, deq, px = mm.decode_jpeg(mm._synth_jpeg_bytes(fid))
    block = np.zeros((nb, 8, 8))
    block[:, mm._ZIGZAG[:, 0], mm._ZIGZAG[:, 1]] = deq
    xs = (2 * np.arange(8) + 1)[:, None] * np.arange(8)[None, :] * np.pi / 16
    cmat = np.cos(xs)
    cmat[:, 0] *= 1 / np.sqrt(2)
    ref = np.einsum("xu,buv,yv->bxy", cmat, block, cmat) / 4
    ref_px = np.clip(np.round(ref + 128), 0, 255).astype(np.uint8)
    ref_img = ref_px.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    assert (ref_img == px).all()


def test_repetition_stats_known_values(spark):
    """Exact Gopher-style repetition counters on a hand-checked corpus,
    including the empty and single-token edge cases."""
    rows = [
        (1, "a b a b a c"),      # 6 toks, 3 distinct, top tok 'a'=3,
                                  # bigrams: ab ba ab ba ac -> top 'a b'=2
        (2, "word"),              # 1 token, no bigrams
        (3, "   "),               # whitespace only -> zero everything
        (4, "x x x x"),           # all same: top tok 4, top bigram 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in webtext.repetition_stats(df).collect()}
    assert tuple(got[1])[1:] == (6, 3, 3, 5, 2)
    assert tuple(got[2])[1:] == (1, 1, 1, 0, 0)
    assert tuple(got[3])[1:] == (0, 0, 0, 0, 0)
    assert tuple(got[4])[1:] == (4, 1, 4, 3, 3)


def test_strip_html_known_output(spark):
    html = (
        '<html><head><style>b{}</style><script>if (1<2) { x="&amp;"; }</script>'
        "</head><body><p>Hello &amp;lt; <b>world</b>&nbsp;&quot;x&quot;</p></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = webtext.strip_html(df).collect()[0]
    # script/style gone (incl. the bare '<' inside the script), tags
    # stripped, double-escape &amp;lt; decodes to literal &lt;,
    # whitespace collapsed
    assert r["clean_text"] == 'Hello &lt; world "x"'
    assert r["n_stripped_chars"] == len(html) - len(r["clean_text"])


def test_bm25_ranking_properties(spark, tmp_path):
    """BM25 sanity on a crafted corpus: a doc with more distinct query
    terms outranks one with fewer; a rarer term carries more idf than
    a ubiquitous one; length normalization demotes padded docs."""
    rows = [
        (1, "spark table merge join"),        # all 3 terms, short
        (2, "spark table filler " + "x " * 60),  # 2 terms, long
        (3, "spark only here"),               # 1 term
        (4, "nothing relevant at all"),       # 0 terms -> excluded
        (5, "spark " * 4 + "common words"),   # tf saturation check
    ]
    import pandas as pd

    pq = str(tmp_path / "docs.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(pq)
    terms = ("spark", "table", "merge")
    stats = webtext.bm25_stats_from_parquet(pq, terms)
    # 'merge' (df=1) must out-idf 'spark' (df=4)
    assert stats["idf_q"]["merge"] > stats["idf_q"]["spark"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = webtext.bm25_topk(df, terms, stats, k=10).collect()
    ranked = [r["doc_id"] for r in out]
    assert ranked[0] == 1          # all three terms wins
    assert 4 not in ranked         # zero-score doc excluded
    scores = {r["doc_id"]: r["score"] for r in out}
    assert scores[1] > scores[3]  # superset of terms at similar length
    # tf saturation: 4x 'spark' scores less than 4x a single occurrence
    assert scores[5] < 4 * scores[3]


def test_hash_split_proportions_and_determinism(spark):
    """98/1/1 split: deterministic across calls, proportions near the
    basis-point targets at 20k ids, and stable under resharding."""
    df = spark.createDataFrame([(i,) for i in range(20000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in webtext.hash_split(df).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in webtext.hash_split(df.repartition(13)).collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 20000 - 0.98) < 0.005
    assert abs(c["val"] / 20000 - 0.01) < 0.005
    assert abs(c["test"] / 20000 - 0.01) < 0.005


def test_pack_assign_fill_invariants(spark):
    """Packing: offsets stay under the budget, packs fill contiguously
    within each bucket in doc_id order."""
    rows = [(i, "w " * ((i * 7) % 40 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = webtext.pack_assign(df, budget_tokens=64, n_buckets=4).collect()
    assert all(0 <= r["pack_offset"] < 64 for r in out)
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r["bucket"], r["doc_id"])):
        prev = by_bucket.get(r["bucket"], 0)
        assert r["pack_seq"] * 64 + r["pack_offset"] == prev  # cumsum exact
        by_bucket[r["bucket"]] = prev + r["dl"]


def test_lm_score_semantics(spark, tmp_path):
    """Unigram LM quality: in-vocab text out-scores OOV gibberish per
    token; empty docs emit (0, 0); the OOV bucket is the floor."""
    import pandas as pd

    corpus = [(i, "the cat sat on the mat") for i in range(50)]
    pq = str(tmp_path / "docs.parquet")
    pd.DataFrame(corpus, columns=["doc_id", "text"]).to_parquet(pq)
    model = webtext.lm_train_from_parquet(pq, vocab_size=10)
    assert model["vocab"]["the"] > model["oov_lp_q"]
    test_rows = [
        (1, "the cat sat"),       # all in-vocab
        (2, "zzq qqx wvv"),       # all OOV
        (3, "   "),               # empty
    ]
    df = spark.createDataFrame(test_rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["sum_lp_q"]) for r in
           webtext.lm_score(df, model).collect()}
    assert got[3] == (0, 0)
    assert got[1][0] == got[2][0] == 3
    assert got[1][1] > got[2][1]          # in-vocab >> OOV
    assert got[2][1] == 3 * model["oov_lp_q"]


def test_curation_pipeline_filters_bite(spark):
    """The composed curation plan: quality-fail and repetition-fail docs
    drop out; survivors carry consistent split + pack assignments."""
    from insideout_spark.plans.pipeline import curate_text_pipeline

    rows = [
        (1, "a solid document with eight reasonable tokens here"),
        (2, "x y"),                          # quality r1: too short
        (3, "spam " * 30),                   # repetition: one token = 100%
        (4, "another good document passes all the configured gates"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curate_text_pipeline(df, 32, 2).collect()}
    assert set(out) == {1, 4}
    assert all(r["split"] in ("train", "val", "test") for r in out.values())
    assert all(0 <= r["pack_offset"] < 32 for r in out.values())


def test_curation_kept_set_matches_catalyst(spark):
    """r06: the Python keep-decision twin (_kept_docs_arrow) must agree
    with the original fused Catalyst filter on every doc of the gate-SF
    corpus (same tokenizations, same integer threshold arithmetic)."""
    from pyspark.sql import functions as F

    from insideout_spark.plans.pipeline import _kept_docs_arrow

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # edge docs the synthetic corpus may not contain
    extra = spark.createDataFrame(
        [
            (10_000_001, ""),
            (10_000_002, "   "),
            (10_000_003, "one"),
            (10_000_004, "tab\tsep\ttokens\tmake\tfive\ttokens"),
            (10_000_005, "spam " * 40),
            (10_000_006, "a b c d e f g h i j"),  # all single-char: r4 fails
            (10_000_007, ("v" * 61 + " ") * 6),   # max token length: r3 fails
        ],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    _, r1, r2, r3, r4 = webtext._quality_parts("text")
    wtoks = webtext.ws_tokens(F.col("text"))
    rep_ok = webtext._max_run_count(wtoks) * 2 <= F.size(wtoks).cast("long")
    want = {r["doc_id"] for r in docs.filter(r1 & r2 & r3 & r4 & rep_ok).select("doc_id").collect()}
    got = {r["doc_id"] for r in _kept_docs_arrow(docs).select("doc_id").collect()}
    assert got == want


def test_best_doc_per_source(spark, tmp_path):
    """Group top-1: per source, the doc with the highest mean logprob
    wins; gibberish never beats in-vocab text."""
    import pandas as pd

    corpus = [(i, "good common words repeated often") for i in range(20)]
    pq = str(tmp_path / "c.parquet")
    pd.DataFrame(corpus, columns=["doc_id", "text"]).to_parquet(pq)
    model = webtext.lm_train_from_parquet(pq, vocab_size=10)
    rows = [
        (1, "good common words", "a.com"),
        (2, "zzz qqq xxx", "a.com"),          # OOV: loses
        (3, "good good good", "b.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r["doc_id"] for r in
           webtext.best_doc_per_source(df, model).collect()}
    assert out == {"a.com": 1, "b.com": 3}


def test_pii_redact_counts_and_near_miss(spark):
    """The augmentation plants 1 email + (alt email iff doc_id%3==0) +
    1 IP + 1 phone per doc; 'no-at.example' must NOT count as an email.
    Body text PII is also caught (email in doc 8's own text)."""
    rows = [
        (6, "plain body"),                     # %3==0 -> alt email, 2 total
        (7, "plain body"),                     # near-miss branch, 1 email
        (8, "contact bob@corp.example please"),  # body email counted too
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in webtext.pii_redact(df).collect()}
    assert out[6]["n_email"] == 2 and out[7]["n_email"] == 1
    assert out[8]["n_email"] == 2               # body + planted
    assert all(r["n_ipv4"] == 1 for r in out.values())
    assert all(r["n_phone"] == 1 for r in out.values())
    # redacted length: tags replace the matches, so red_len is the
    # augmented length with each PII span swapped for its tag
    assert all(r["red_len"] > 0 for r in out.values())


def test_sample_stratified_rates_and_determinism(spark):
    """Rate schedule 10000//(1+idx%4) bp per source; the splitmix64
    keep decision is deterministic and unbiased within ~3 sigma."""
    import pandas as pd

    n = 4000
    rows = [(i, "t", f"src{i % 4}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in webtext.sample_stratified(df).collect()}
    assert {r["rate_bp"] for r in out.values()} == {10000, 5000, 3333, 2500}
    for r in out.values():
        p = r["rate_bp"] / 10000.0
        sigma = (r["n_total"] * p * (1 - p)) ** 0.5
        assert abs(r["n_kept"] - p * r["n_total"]) <= max(3 * sigma, 1)
    out2 = {r["source"]: r for r in webtext.sample_stratified(df).collect()}
    assert {k: v["n_kept"] for k, v in out.items()} == {
        k: v["n_kept"] for k, v in out2.items()
    }


def test_mix_weights_invariants(spark):
    """tok_share sums to 1; mix_weight equalizes: weight * share ==
    1/n_sources exactly in the double algebra used."""
    rows = [
        (1, "a b c d e f g h", "s1"),   # 8 tokens
        (2, "a b", "s1"),               # 2  -> s1: 10
        (3, "a b c d e", "s2"),         # 5  -> s2: 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in webtext.mix_weights(df).collect()}
    assert out["s1"]["n_tokens"] == 10 and out["s2"]["n_tokens"] == 5
    assert abs(sum(r["tok_share"] for r in out.values()) - 1.0) < 1e-12
    assert out["s1"]["mix_weight"] == 15.0 / (2 * 10)
    assert out["s2"]["mix_weight"] == 15.0 / (2 * 5)


def test_hll_distinct_accuracy_and_merge_shape(spark):
    """The sketch estimate tracks the exact distinct-token count
    within the expected error band, and the shuffle payload is bounded
    by 256 registers per source regardless of corpus size."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    rows = []
    for i in range(200):
        words = ["".join(rng.choice(letters, 5)) for _ in range(60)]
        rows.append((i, " ".join(words), f"src{i % 2}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in webtext.hll_distinct_tokens(df).collect()}
    truth = {}
    for did, text, src in rows:
        truth.setdefault(src, set()).update(text.split())
    for src, toks in truth.items():
        r = out[src]
        assert r["m_hit"] <= 256
        rel = abs(r["est_distinct"] - len(toks)) / len(toks)
        assert rel < 0.25, (src, r["est_distinct"], len(toks))


def test_cms_overestimates_and_bounded_counters(spark):
    """CMS invariant: est_n >= true_n for every probe token (min of d
    counters each summing a superset of the token's occurrences), and
    a present probe token is never estimated as zero."""
    rows = [
        (1, "the quick fox and the lazy dog see the table", "s1"),
        (2, "a table a chair a lamp", "s1"),
        (3, "spark hash join scan scan scan", "s2"),
        (4, "value value key key key key", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["token"]: r for r in webtext.cms_heavy_hitters(df).collect()}
    truth: dict = {}
    for _, text, _ in rows:
        for t in text.split():
            truth[t] = truth.get(t, 0) + 1
    assert set(out) == set(webtext._CMS_PROBES)
    for tok, r in out.items():
        assert r["true_n"] == truth.get(tok, 0), tok
        assert r["est_n"] >= r["true_n"], tok
        if r["true_n"] > 0:
            assert r["est_n"] > 0


def test_domain_cap_semantics(spark):
    """At most k rows per source; kept set is the deterministic
    splitmix64-order prefix (stable across re-runs and input order)."""
    rows = [(i, "t", f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = webtext.domain_cap(df, k=7).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r)
    assert all(len(v) <= 7 for v in per.values())
    assert all(sorted(r["rk"] for r in v) == list(range(1, len(v) + 1))
               for v in per.values())
    # determinism under reversed input order
    df2 = spark.createDataFrame(rows[::-1], "doc_id long, text string, source string")
    out2 = webtext.domain_cap(df2, k=7).collect()
    assert sorted((r["doc_id"], r["source"], r["rk"]) for r in out) == \
        sorted((r["doc_id"], r["source"], r["rk"]) for r in out2)


def test_length_histogram_exact_and_complete(spark):
    """Bin counts sum to the corpus size; bin arithmetic clamps at the
    last bin; lo edges are bin*width."""
    rows = [(i, "x" * n, "s") for i, n in enumerate([0, 1, 15, 16, 17, 511, 512, 9999])]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df = df.withColumn("n_chars", F.length("text")).withColumn("lang", F.lit("en"))
    out = webtext.length_histogram(df).collect()
    assert sum(r["n"] for r in out) == len(rows)
    by_bin = {r["bin"]: r for r in out}
    assert by_bin[0]["n"] == 3          # 0, 1, 15
    assert by_bin[1]["n"] == 2          # 16, 17
    assert by_bin[31]["n"] == 3         # 511, 512, 9999 clamp
    assert all(r["lo"] == r["bin"] * webtext._HIST_BIN_W for r in out)


def test_url_domain_stats_shapes(spark):
    """Every TLD row present; n_docs sums to corpus; depth in {1,2};
    domains bounded by the 97-host synth space."""
    rows = [(i, "t", f"s{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df = df.withColumn("n_chars", F.lit(10)).withColumn("lang", F.lit("en"))
    out = webtext.url_domain_stats(df).collect()
    assert sorted(r["tld"] for r in out) == sorted(webtext._URL_TLDS)
    assert sum(r["n_docs"] for r in out) == 300
    for r in out:
        assert 1 <= r["max_depth"] <= 2
        assert r["n_domains"] <= 97 * 2  # site{0..96} x (tld fixed per row group)


def test_quality_classifier_semantics(spark):
    from insideout_spark.plans.webtext import quality_classifier

    docs = spark.createDataFrame(
        [
            # long fluent English: many tokens + stopword hits -> keep
            (0, ("the cat sat on the mat and the dog is in the house " * 40).strip()),
            # short junk: few tokens, heavy punctuation -> drop
            (1, "x!!! ??? ;;; ,,, ..."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["keep"] and rows[0]["logit_q"] >= 0
    assert not rows[1]["keep"] and rows[1]["logit_q"] < 0
    # empty doc: every feature 0 -> logit == bias
    assert rows[2]["f_tokens"] == 0 and rows[2]["f_mean_len_x1000"] == 0
    assert rows[2]["logit_q"] == -2_000_000
    # feature arithmetic on a known doc
    d = spark.createDataFrame([(9, "the aa bbb.")], "doc_id long, text string")
    r = quality_classifier(d).collect()[0]
    assert r["f_tokens"] == 3
    # chars 3+2+4=9 (token 'bbb.' keeps the dot) -> 9000//3
    assert r["f_mean_len_x1000"] == 3000
    assert r["f_stop_hits"] == 1 and r["f_punct"] == 1


def test_bigram_topk_counts_and_pcond(spark):
    from insideout_spark.plans.webtext import bigram_topk

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b"), (2, "solo")],
        "doc_id long, text string",
    )
    rows = {r["bigram"]: r for r in bigram_topk(docs, k=10).collect()}
    # doc0 bigrams: 'a b','b a','a b','b c'; doc1: 'a b'; doc2: none
    assert rows["a b"]["n_bigram"] == 3
    assert rows["b a"]["n_bigram"] == 1
    assert rows["b c"]["n_bigram"] == 1
    # contexts (non-last tokens): doc0 a,b,a,b  doc1 a -> a:3, b:2
    assert rows["a b"]["n_context"] == 3
    assert rows["a b"]["p_cond"] == 3 / 3
    assert rows["b c"]["p_cond"] == 1 / 2
    for r in rows.values():
        assert 0 < r["p_cond"] <= 1
        assert r["n_context"] >= r["n_bigram"]


def test_text_index_topk_postings_capped_sorted(spark):
    from insideout_spark.plans.webtext import text_index_topk

    docs = spark.createDataFrame(
        [(i, "common unique%d" % i) for i in range(30)],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in
           text_index_topk(docs, k=5, postings_cap=8).collect()}
    assert len(out) == 5
    c = out["common"]
    assert c["df"] == 30 and c["cf"] == 30
    posting_ids = [int(x) for x in c["postings"].split(",")]
    # capped at 8, ascending, and exactly the 8 smallest doc_ids
    assert posting_ids == list(range(8))
    for r in out.values():
        ids = [int(x) for x in r["postings"].split(",")]
        assert ids == sorted(ids) and len(ids) <= 8
        assert r["df"] >= len(ids) if r["df"] > 8 else r["df"] == len(ids)


def test_pagerank_integer_invariants(spark):
    from insideout_spark.plans import graph

    docs = spark.createDataFrame(
        [(i, "d%d" % i) for i in range(64)], "doc_id long, text string"
    )
    out = graph.pagerank(docs, iters=3).collect()
    assert len(out) == 64
    # out-degree is exactly 3 -> total in-degree == 3N
    assert sum(r["in_deg"] for r in out) == 3 * 64
    base = (15 * graph.PR_SCALE) // 100
    for r in out:
        assert r["rank_q"] >= base  # base mass + non-negative inflow
    # fixed-point total mass stays near N*SCALE (floor-div losses only)
    total = sum(r["rank_q"] for r in out)
    assert total <= 64 * graph.PR_SCALE
    assert total >= int(64 * graph.PR_SCALE * 0.93)
    # deterministic: second run bit-identical
    out2 = graph.pagerank(docs, iters=3).collect()
    assert sorted((r["doc_id"], r["rank_q"]) for r in out) == \
        sorted((r["doc_id"], r["rank_q"]) for r in out2)


def test_pmi_topk_exact_ratio(spark):
    from insideout_spark.plans.webtext import pmi_topk

    # 'new york' always collocated; 'the' everywhere -> low PMI
    docs = spark.createDataFrame(
        [(i, "the cat saw new york and the dog") for i in range(5)]
        + [(9, "the end")],
        "doc_id long, text string",
    )
    rows = {(r["w1"], r["w2"]): r for r in
            pmi_topk(docs, k=50, min_count=2).collect()}
    ny = rows[("new", "york")]
    # 5 docs x 7 bigram events + 1 doc x 1 event = 36 events
    assert ny["n_events"] == 36
    assert ny["n_ab"] == 5 and ny["n_w1"] == 5 and ny["n_w2"] == 5
    assert ny["pmi_ratio"] == 5 * 36 / (5 * 5)
    # common-word pair ranks strictly below the perfect collocation
    assert rows[("the", "cat")]["pmi_ratio"] < ny["pmi_ratio"]
    # min_count prunes: ('the','end') occurs once
    assert ("the", "end") not in rows


def test_ann_pq_exact_twin_and_rank_invariants(spark):
    import numpy as np

    from insideout_spark.plans.webtext import _pq_train, ann_pq

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    # vec 20 is vec 0's exact twin -> identical codes -> ADC dist 0
    base[20] = base[0]
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = _pq_train(
        np.array([r[1] for r in rows], dtype=np.float64), m=4, ks=8
    )
    out = ann_pq(embs, [0, 5], k=10, m=4, ks=8, codebooks=books).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        dists = [r["dist_q"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != qid for r in rs)
    # the exact twin shares query 0's codes, so it attains the MINIMAL
    # possible ADC distance (ADC measures query->centroid residual,
    # never 0 unless the query sits on its centroids) and ranks first
    from insideout_spark.plans.webtext import _quantize

    top0 = by_q[0][0]
    assert top0["neighbor_id"] == 20
    q0 = _quantize(
        np.array(
            embs.filter("vec_id = 0").collect()[0]["embedding"], np.float64
        )
    ).astype(np.int64)
    cb = np.asarray(books, dtype=np.int64)
    table = ((q0.reshape(4, 4)[:, None, :] - cb) ** 2).sum(-1)
    assert top0["dist_q"] == int(table.min(axis=1).sum())


def test_global_ordinals_dense_and_partition_invariant(spark):
    """Ordinals are the exact dense 0..N-1 rank of the order key, and
    the result is IDENTICAL for different partition counts (the
    offsets+local-rank composition is partition-invariant)."""
    from insideout_spark.plans import ids

    rows = [(i * 7 % 101,) for i in range(101)]  # permuted unique keys
    df = spark.createDataFrame(rows, "doc_id long")
    a = {
        r["doc_id"]: (r["ordinal"], r["shard_id"])
        for r in ids.global_ordinals(
            df, shard_size=10, num_partitions=3
        ).collect()
    }
    b = {
        r["doc_id"]: (r["ordinal"], r["shard_id"])
        for r in ids.global_ordinals(
            df, shard_size=10, num_partitions=13
        ).collect()
    }
    assert a == b
    assert sorted(o for o, _ in a.values()) == list(range(101))
    # rank follows key order: doc_id k has ordinal = #keys < k = k here
    assert all(a[k][0] == k for k in range(101))
    assert all(a[k][1] == k // 10 for k in range(101))


def test_dedup_incremental_corpus_and_within_batch(spark):
    """Crafted ingest: new doc 107 is a near-dup of corpus doc 4 (one
    token changed), new doc 117 duplicates new doc 107 exactly (within-
    batch keep-first -> dup_of the SMALLER new id or the corpus match,
    whichever is smaller: here corpus doc 4), new doc 127 is unique."""
    from insideout_spark.plans import webtext

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (4, base),
        (5, "completely different corpus text about spark shuffles and joins"),
        (107, base.replace("today", "tonight")),
        (117, base.replace("today", "tonight")),
        (127, "unique new content that matches nothing in corpus or batch"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_docs = docs.filter("doc_id >= 100")
    corpus_sigs = webtext.minhash_signatures(docs.filter("doc_id < 100"))
    got = {
        r["doc_id"]: (r["dup_of"], r["keep"])
        for r in webtext.dedup_incremental(
            new_docs, corpus_sigs, threshold=0.5
        ).collect()
    }
    assert got[107] == (4, False)
    # 117 matches corpus doc 4 AND smaller new doc 107 -> min = 4
    assert got[117] == (4, False)
    assert got[127] == (None, True)


def test_dedup_closers_signatures_path_identical(spark):
    """dedup_keep_best / decontaminate_split with a precomputed
    signatures frame (the save_signatures pipeline shape) return
    row-identical results to the self-contained path."""
    from insideout_spark.plans import webtext

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + (f" tail{i}" if i % 3 == 0 else "")) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = webtext.minhash_signatures(docs).cache()
    sigs.count()
    for fn in (webtext.dedup_keep_best, webtext.decontaminate_split):
        a = sorted(map(tuple, fn(docs, threshold=0.35).collect()))
        b = sorted(map(tuple, fn(docs, threshold=0.35, signatures=sigs).collect()))
        assert a == b
    sigs.unpersist()


def test_bpe_train_deterministic_and_replace_equivalent(spark):
    """BPE trainer: deterministic merges with (count desc, pair asc)
    tie-break, and _bpe_apply's scan == the serving replace('(x)(y)',
    '(xy)') semantics on the wrapped representation (including the
    overlapping-run and adjacent-pair edge cases)."""
    from insideout_spark.plans import webtext

    merges = webtext.bpe_train({"abab": 2, "aaa": 1}, n_merges=2)
    # round 1: (a,b) count 4 beats (b,a) 2 and (a,a) 2 -> merge ab
    # round 2: reps are (ab)(ab)(_) x2 and (a)(a)(a)(_):
    #   (ab,ab)=2, (ab,_)=2, (a,a)=2, (a,_)=1 -> tie at 2, min pair (a,a)
    assert merges == [("a", "b"), ("a", "a")]

    def via_replace(word, merges):
        s = "".join(f"({c})" for c in word) + "(_)"
        for x, y in merges:
            s = s.replace(f"({x})({y})", f"({x}{y})")
        import re

        return tuple(re.findall(r"\(([a-z_]+)\)", s))

    for word in ["abab", "aaa", "aaaa", "ababa", "b", ""]:
        sym = tuple(word) + ("_",)
        for x, y in merges:
            sym = webtext._bpe_apply(sym, x, y)
        assert sym == via_replace(word, merges), word


def test_bpe_token_counts_spark_matches_python(spark):
    """Serving chain (Catalyst replace over distinct words) reproduces
    the trainer-side tokenization occurrence-for-occurrence."""
    from collections import Counter

    from insideout_spark.plans import webtext

    rows = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new lower"),
        (3, "low new wide wider widest"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wc = Counter(
        w for _, t in rows for w in t.split()
    )
    merges = webtext.bpe_train(dict(wc), n_merges=8)
    got = {
        r["token"]: r["n"]
        for r in webtext.bpe_token_counts(docs, merges, k=100).collect()
    }
    want: Counter = Counter()
    for w, c in wc.items():
        sym = tuple(w) + ("_",)
        for x, y in merges:
            sym = webtext._bpe_apply(sym, x, y)
        for s in sym:
            want[s] += c
    assert got == dict(want)


def test_dedup_url_latest_keeps_latest(spark):
    """Keep-latest semantics: within a url group the kept row has the
    max (warc_ts_unix, doc_id), and n_crawls counts the group."""
    from insideout_spark.plans import webtext

    docs = spark.createDataFrame(
        [(i,) for i in range(450)], "doc_id long"
    )
    out = webtext.dedup_url_latest(docs, recrawl_mod=200).collect()
    # recompute the synth + argmax in python
    groups: dict = {}
    for i in range(450):
        ck = i % 200
        ts = 1600000000 + (i * 37) % 10000
        groups.setdefault(ck, []).append((ts, i))
    # crawl_key -> url is injective here (its components only read ck)
    by_ck = {ck: (max(v), len(v)) for ck, v in groups.items()}
    assert len(out) == 200
    for r in out:
        ck = r["kept_doc_id"] % 200
        (ts, did), n = by_ck[ck]
        assert (r["warc_ts_unix"], r["kept_doc_id"]) == (ts, did)
        assert r["n_crawls"] == n


def test_crawl_diff_all_four_statuses(spark):
    """crawl_diff emits added/removed/changed/same correctly, with
    within-snapshot keep-latest resolving recaptures first. ck_mod=4,
    shift=1: old cks {0,1,2,3}, new cks {1,2,3,4} -> ck 0 removed,
    ck 4 added."""
    from insideout_spark.plans import webtext

    # doc_id -> (snapshot = id%2, half = id//2, ck = half%4 [+1 if new])
    rows = [
        (0, "a"),   # old ck0 -> removed
        (2, "b"),   # old ck1
        (3, "b"),   # new ck = (3//2)%4+1 = 2
        (4, "c"),   # old ck2
        (6, "d"),   # old ck3
        (1, "zz"),  # new ck = 0%4+1 = 1
        (5, "c"),   # new ck = 2%4+1 = 3
        (7, "e"),   # new ck = 3%4+1 = 4 -> added
        (9, "b"),   # new ck = 4%4+1 = 1 (recapture of new ck1, later ts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["url"]: r for r in webtext.crawl_diff(docs, ck_mod=4, new_shift=1).collect()}
    by_status: dict = {}
    for r in out.values():
        by_status.setdefault(r["status"], []).append(r)
    # ck0 only old -> removed; ck4 only new -> added
    assert len(by_status["removed"]) == 1
    assert by_status["removed"][0]["old_doc_id"] == 0
    assert len(by_status["added"]) == 1
    assert by_status["added"][0]["new_doc_id"] == 7
    # ck1: old doc 2 text 'b'; new docs 1 ('zz') and 9 ('b') -> keep 9
    # (higher ts) -> same text 'b' -> SAME
    assert len(by_status["same"]) == 1
    s = by_status["same"][0]
    assert (s["old_doc_id"], s["new_doc_id"]) == (2, 9)
    # ck2: old 4 'c' vs new 3 'b' -> changed; ck3: old 6 'd' vs new 5
    # 'c' -> changed
    assert sorted(
        (r["old_doc_id"], r["new_doc_id"]) for r in by_status["changed"]
    ) == [(4, 3), (6, 5)]


def test_chunk_windows_exact_layout(spark):
    """Chunk starts advance by stride while < n_tokens; each chunk is
    tokens[s : s+size]; short tail chunks emitted; empty docs
    dropped."""
    import hashlib

    from insideout_spark.plans import webtext

    toks = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "solo"), (3, " ")],
        "doc_id long, text string",
    )
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_len"], r["chunk_md5"])
        for r in webtext.chunk_windows(docs, chunk_size=4, stride=3).collect()
    )
    want = []
    for s in range(0, 10, 3):
        piece = toks[s : s + 4]
        want.append(
            (1, s // 3, s, len(piece),
             hashlib.md5(" ".join(piece).encode()).hexdigest())
        )
    want.append((2, 0, 0, 1, hashlib.md5(b"solo").hexdigest()))
    assert out == sorted(want)


def test_winnow_guarantee_and_rightmost_min(spark):
    """Winnowing invariants: (1) selections are the rightmost minimum
    of each w-window of k-gram hashes, deduplicated (checked against a
    direct python replay); (2) the MOSS guarantee — two docs sharing a
    run of >= w+k-1 tokens share at least one fingerprint VALUE."""
    import numpy as np

    from insideout_spark.plans import webtext

    k, w = 8, 4
    shared = " ".join(f"common{i}" for i in range(k + w - 1))  # w+k-1 toks
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon"),
        (2, "zeta eta theta iota " + shared),
        (3, "nothing in common here at all whatsoever today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = webtext.winnow_fingerprints(docs, k=k, w=w).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))

    def replay(text):
        toks = text.split()
        th = webtext._token_hashes_u64(toks)
        m = len(toks) - k + 1
        h = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            h += th[j : j + m] * np.uint64(pow(257, k - 1 - j, 1 << 64))
        wl = min(w, m)
        sel = set()
        for i in range(m - wl + 1):
            win = h[i : i + wl]
            mn = win.min()
            pos = i + max(np.nonzero(win == mn)[0])  # rightmost min
            sel.add((int(pos), int(np.int64(h[pos]))))
        return sel

    for did, text in rows:
        assert got.get(did, set()) == replay(text), did
    fps1 = {fp for _, fp in got[1]}
    fps2 = {fp for _, fp in got[2]}
    assert fps1 & fps2, "shared w+k-1 run must share a fingerprint"


def test_normalize_text_branches(spark):
    """Normalization semantics on every dirt branch: control chars ->
    space, whitespace runs collapse, leading/trailing trimmed."""
    from insideout_spark.plans import webtext

    docs = spark.createDataFrame(
        [(0, "alpha  beta"), (3, "x\ty"), (1, "clean one")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["norm_text"], r["n_removed"])
           for r in webtext.normalize_text(docs).collect()}
    # doc 0: '  ' prefix + 'alpha  beta' + dirt (0%3==0) -> internal
    # run collapsed, control char replaced, all edges trimmed
    assert got[0] == ("alpha beta dirty bits", len("  alpha  beta\t\t dirty\x01bits \r\n ") - len("alpha beta dirty bits"))
    # doc 3: odd -> no prefix; 3%3==0 -> dirt; tab inside collapses
    assert got[3][0] == "x y dirty bits"
    # doc 1: odd, 1%3!=0 -> only the trailing ' ' is trimmed
    assert got[1] == ("clean one", 1)
