"""Tests for the training-data-pipeline operators: dedup (minhash/simhash/
jaccard/embedding), similarity search, text analysis, and the extra window
operators (nearest-event distance, moving aggregates)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark.operators import dedup as D
from image_feature_extraction_spark.operators import similarity as S
from image_feature_extraction_spark.operators import text as T
from image_feature_extraction_spark.operators.windows import (
    moving_aggregate,
    nearest_event_distance,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (4, "completely different words here entirely unrelated text"),
        (5, "der hund und die katze ist ein tier"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_exact_dup_same_signature(spark, docs):
    sig = D.minhash_signatures(docs).toPandas().set_index("doc_id")
    assert (sig.loc[1] == sig.loc[3]).all()
    # near-dup shares most minhashes; unrelated shares none
    shared_near = (sig.loc[1] == sig.loc[2]).sum()
    shared_far = (sig.loc[1] == sig.loc[4]).sum()
    assert shared_near > shared_far


def test_minhash_lsh_pairs_finds_dups(spark, docs):
    pairs = D.minhash_lsh_pairs(docs).toPandas()
    keys = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
    assert (1, 3) in keys  # exact dup always collides in every band
    row13 = pairs[(pairs.doc_a == 1) & (pairs.doc_b == 3)]
    assert row13["n_bands"].iloc[0] == 8


def test_simhash_properties(spark, docs):
    sh = D.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh.loc[1] == sh.loc[3]
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")  # noqa: E731
    assert ham(sh.loc[1], sh.loc[2]) <= ham(sh.loc[1], sh.loc[4])


def test_ngram_jaccard_hand_value(spark, docs):
    out = D.ngram_jaccard_pairs(docs, n=1, threshold=0.0).toPandas()
    row = out[(out.doc_a == 1) & (out.doc_b == 2)].iloc[0]
    # doc1 words {the,quick,brown,fox,jumps,over,lazy,dog} (8 distinct)
    # doc2 swaps dog->cat: common 7, union 9
    assert row["common"] == 7
    assert abs(row["jaccard"] - 7 / 9) < 1e-12
    exact = out[(out.doc_a == 1) & (out.doc_b == 3)].iloc[0]
    assert exact["jaccard"] == 1.0


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~same direction
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = D.embedding_neardup_pairs(df, threshold=0.9).toPandas()
    keys = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert keys == {(1, 2)}


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.cosine_topk(df, q, k=4).toPandas()
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        want = np.argsort(-s, kind="stable")[:4]
        g = got[got.query_id == qid].sort_values("rank")["neighbor_id"].to_numpy()
        np.testing.assert_array_equal(g, want)


def test_lsh_same_vector_same_bucket_and_subset_of_brute(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(5, 16)).astype(np.float32)
    # clusters: 8 tight copies of each base vector
    vecs, ids = [], []
    k = 0
    for b in base:
        for _ in range(8):
            vecs.append((b + rng.normal(scale=0.01, size=16).astype(np.float32)))
            ids.append(k)
            k += 1
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )

    def buckets():
        out = S._table_buckets(df, 1, 6, 16, "embedding").toPandas()
        assert (out["tbl"] == 0).all() and len(out) == len(ids)
        return out.sort_values("vec_id").reset_index(drop=True)

    b = buckets()
    # the same vectors land in the same buckets on every run (determinism)
    pd.testing.assert_frame_equal(b[["vec_id", "bkt"]], buckets()[["vec_id", "bkt"]])
    # bit p is set iff the left-to-right dot with plane p is positive
    planes = S.hyperplane_coeffs(6, 16, 0)
    for v, got in zip(b["embedding"], b["bkt"]):
        want = 0
        for p, row in enumerate(planes):
            dot = 0.0
            for x, c in zip(v, row):
                dot += float(x) * c
            want |= (1 << p) if dot > 0 else 0
        assert got == want
    # most same-cluster members share a bucket (tight clusters, 6 planes)
    b = b.set_index("vec_id")["bkt"]
    same = sum(
        b.loc[c * 8] == b.loc[c * 8 + j] for c in range(5) for j in range(1, 8)
    )
    assert same >= 20  # >half of 35 comparisons


def test_token_stats_hand(spark):
    df = spark.createDataFrame(
        [(1, "  Hello world 42 foo  ")], "doc_id long, text string"
    )
    out = T.token_stats(df).toPandas().iloc[0]
    assert out["n_words"] == 4
    assert out["n_distinct_words"] == 4
    assert out["n_alpha_words"] == 3  # "42" excluded
    assert abs(out["mean_word_len"] - (5 + 5 + 2 + 3) / 4) < 1e-12


def test_quality_score_bounds(spark, docs):
    out = T.quality_score(docs).toPandas()
    assert (out["quality_score"] >= 0).all()
    assert (out["quality_score"] <= 1000).all()
    assert (out["stopword_ratio"] <= 1.0).all()


def test_langid_markers(spark, docs):
    out = T.langid(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "predicted_lang"] == "en"  # 'the' x2
    assert out.loc[5, "predicted_lang"] == "de"  # der/und/die/ist/ein
    assert out.loc[4, "predicted_lang"] == "und"  # no markers


def test_fingerprint_dup_invariance(spark, docs):
    fp = T.fingerprint(docs).toPandas().set_index("doc_id")
    assert (fp.loc[1] == fp.loc[3]).all()
    assert fp.loc[1, "n_shingles"] == 7  # 9 words -> 7 trigrams, all distinct
    assert (fp.loc[1] != fp.loc[4]).any()


def test_nearest_event_distance_hand(spark):
    rows = [
        ("u", 0.0, "x"), ("u", 10.0, "err"), ("u", 13.0, "x"),
        ("u", 30.0, "err"), ("u", 100.0, "x"), ("v", 5.0, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, t double, typ string")
    out = (
        nearest_event_distance(df, by="k", ts="t", marker=F.col("typ") == "err")
        .toPandas()
        .sort_values(["k", "t"])
    )
    u = out[out.k == "u"]["dist_to_marker"].tolist()
    assert u == [10.0, 0.0, 3.0, 0.0, 70.0]
    assert out[out.k == "v"]["dist_to_marker"].isna().all()


def test_moving_aggregate_hand(spark):
    rows = [("u", 0.0, 10.0), ("u", 1800.0, 20.0), ("u", 4000.0, 30.0)]
    df = spark.createDataFrame(rows, "k string, t double, v double")
    out = (
        moving_aggregate(df, by="k", ts="t", value="v", width=3600.0)
        .toPandas()
        .sort_values("t")
    )
    assert out["mov_n"].tolist() == [1, 2, 2]  # t=4000 frame = [400, 4000] (RANGE inclusive)
    assert [float(x) for x in out["mov_mean"]] == [10.0, 15.0, 25.0]


def test_lsh_recall_vs_bruteforce_on_driver_embeddings(spark):
    """ANN quality floor: hyperplane-LSH top-5 neighbor sets overlap the
    exact top-5 meaningfully, and every LSH result's cosine is exact (the
    approximation is only in candidate pruning, never in scoring)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(e, q, k=5).toPandas()
    approx = S.lsh_topk(e, q, k=5, n_planes=8, dim=64).toPandas()
    # scoring exactness: any (query, neighbor) pair present in both must
    # carry the identical cosine
    m = exact.merge(approx, on=["query_id", "neighbor_id"], suffixes=("_e", "_a"))
    assert (m["cosine_e"] == m["cosine_a"]).all()
    # candidate-pruning recall floor: with 8 planes on 64-D data a strict
    # bucket match is selective; require non-trivial overlap overall
    hits = len(m)
    total = len(exact)
    assert hits / total > 0.1, f"recall {hits}/{total}"


# ---------------------------------------------------------------------------
# Round 2: bucketed embedding near-dup, BLAS LSH, capped minhash, mode_label
# ---------------------------------------------------------------------------

def test_embedding_neardup_bucketed_subset_and_autofallback(spark):
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = D.embedding_neardup_pairs(e, threshold=0.48).toPandas()
    bucketed = D.embedding_neardup_pairs_bucketed(
        e, threshold=0.48, n_planes=3, n_tables=8
    ).toPandas()
    key = lambda df: set(zip(df["id_a"], df["id_b"]))  # noqa: E731
    # bucketed is a subset of exact (it can only miss, never invent)...
    assert key(bucketed) <= key(exact)
    # ...and at these parameters it finds everything at this scale
    assert key(bucketed) == key(exact)
    m = exact.merge(bucketed, on=["id_a", "id_b"], suffixes=("_e", "_b"))
    assert (m["cosine_e"] == m["cosine_b"]).all()
    # the broadcast entry point auto-falls-back instead of raising
    auto = D.embedding_neardup_pairs(e, threshold=0.48, max_broadcast_rows=10)
    assert key(auto.toPandas()) == key(bucketed)


@pytest.mark.parametrize(
    "name",
    ["q_knn_bruteforce", "q_knn_lsh", "q_knn_lsh_blas", "q_dedup_embedding_bucketed"],
)
def test_similarity_query_matches_oracle_exactly(spark, name):
    """Tier-1 oracle guard for the similarity family: the registered query
    against its registered DuckDB oracle at sf0.01, compared the way
    scripts/check_oracle.py does, with no allclose fallback accepted."""
    import duckdb

    import __spark_entry__ as entry
    from image_feature_extraction_spark.plans.queries import ORACLE_SQL
    from scripts.check_oracle import compare

    sf_dir = "/root/testdata/sf0.01"
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    got = entry.queries()[name](spark, sf_dir).toPandas()
    want = con.sql(ORACLE_SQL[name]).df()
    assert compare(name, got, want) == "OK (exact)"


def test_minhash_capped_drops_hot_shingles(spark):
    rows = [("d%d" % i, "common words everywhere plus unique%d token%d tail%d" % (i, i, i))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # 'common words everywhere' appears in all 6 docs -> df=6 > cap=3
    uncapped = D.minhash_signatures(df, num_hashes=4).toPandas()
    capped = D.minhash_signatures(df, num_hashes=4, max_doc_freq=3).toPandas()
    assert len(uncapped) == len(capped) == 6
    # the shared shingle dominated at least one doc's uncapped signature
    merged = uncapped.merge(capped, on="doc_id", suffixes=("_u", "_c"))
    assert any(
        (merged[f"h{j}_u"] != merged[f"h{j}_c"]).any() for j in range(4)
    )
    # a doc whose every shingle is hot loses its signature
    dup = spark.createDataFrame(
        [("e%d" % i, "same same same same same") for i in range(5)],
        "doc_id string, text string",
    )
    assert D.minhash_signatures(dup, num_hashes=4, max_doc_freq=3).count() == 0


def test_mode_label_options(spark):
    from image_feature_extraction_spark.operators.labels import mode_label

    rows = [
        # g1: 3 click, 2 view, 2 purchase (+2 error ignored) -> purchase
        # share 2/7 >= 0.2 -> override wins over majority 'click'
        *[("g1", "click")] * 3, *[("g1", "view")] * 2,
        *[("g1", "purchase")] * 2, *[("g1", "error")] * 2,
        # g2: 3 view, 1 purchase -> share 0.25 >= 0.2 -> purchase
        *[("g2", "view")] * 3, ("g2", "purchase"),
        # g3: 4 click, 0 purchase -> majority click
        *[("g3", "click")] * 4,
        # g4: tie click/view -> label asc -> click (no purchase)
        *[("g4", "click")] * 2, *[("g4", "view")] * 2,
        # g5: only ignored rows -> no output
        *[("g5", "error")] * 3,
    ]
    df = spark.createDataFrame(rows, "g string, label string")
    out = mode_label(
        df, by="g", label_col="label",
        ignore=("error",), dominant="purchase", dominant_share=0.2,
    ).toPandas().set_index("g")
    assert list(sorted(out.index)) == ["g1", "g2", "g3", "g4"]
    assert out.loc["g1", "mode_label"] == "purchase"
    assert out.loc["g1", "mode_count"] == 2
    assert out.loc["g1", "n_considered"] == 7
    assert out.loc["g2", "mode_label"] == "purchase"
    assert out.loc["g3", "mode_label"] == "click"
    assert out.loc["g3", "mode_count"] == 4
    assert out.loc["g4", "mode_label"] == "click"
    # without options: plain majority with tie-break
    plain = mode_label(df, by="g", label_col="label").toPandas().set_index("g")
    assert plain.loc["g1", "mode_label"] == "click"
    assert plain.loc["g5", "mode_label"] == "error"


def test_xxhash64_fast_path_structure(spark, docs):
    """hash_fn="xxhash64": same shape/determinism as the md5 parity path;
    exact duplicates still collide to identical signatures/fingerprints."""
    sig_a = D.minhash_signatures(docs, num_hashes=4, hash_fn="xxhash64").toPandas()
    sig_b = D.minhash_signatures(docs, num_hashes=4, hash_fn="xxhash64").toPandas()
    pd.testing.assert_frame_equal(
        sig_a.sort_values("doc_id").reset_index(drop=True),
        sig_b.sort_values("doc_id").reset_index(drop=True),
    )
    md5 = D.minhash_signatures(docs, num_hashes=4).toPandas()
    assert set(sig_a["doc_id"]) == set(md5["doc_id"])
    assert (sig_a[[f"h{j}" for j in range(4)]] >= 0).all().all()
    fp = T.fingerprint(docs, hash_fn="xxhash64").toPandas().set_index("doc_id")
    fp_md5 = T.fingerprint(docs).toPandas().set_index("doc_id")
    assert (fp["n_shingles"] == fp_md5["n_shingles"]).all()
    # dup docs (same text) collide on both paths
    sig_m = sig_a.set_index("doc_id")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_text = {}
    for d, t in texts.items():
        by_text.setdefault(t, []).append(d)
    for t, ids in by_text.items():
        if len(ids) > 1 and all(i in sig_m.index for i in ids):
            rows = sig_m.loc[ids]
            assert (rows.nunique() == 1).all()


def test_exact_dedup_survivors(spark, docs):
    out = D.exact_dedup(docs).toPandas()
    pdf = docs.toPandas()
    # one survivor per distinct text, and it's the min doc_id
    assert len(out) == pdf["text"].nunique()
    want_keep = pdf.groupby("text")["doc_id"].min().sort_values().tolist()
    assert sorted(out["doc_id"]) == sorted(want_keep)
    # copy counts add back up to the corpus size
    assert out["n_copies"].sum() == len(pdf)


def test_bpe_token_count_hand(spark):
    df = spark.createDataFrame(
        [("d1", "don't stop, it's 42 tokens-ish!")], "doc_id string, text string"
    )
    out = T.bpe_token_count(df).collect()[0]
    # don | 't | stop | , | it | 's | 42 | tokens | -ish... let's count via
    # the same regex in python for an independent cross-check
    import re

    toks = [
        t for t in re.findall(f"({T.BPE_PRETOKEN_PATTERN})",
                              "don't stop, it's 42 tokens-ish!")
        if not t.isspace()
    ]
    assert out.n_bpe_tokens == len(toks)
    assert out.n_words == 5
    assert out.fertility == out.n_bpe_tokens / 5.0


def test_ivf_topk_recall_and_determinism(spark):
    """IVF candidates are a subset of brute force; recall@5 over the
    synthetic table must be high (clustered probes over 4/16 lists), and
    the result must be identical across input partitionings (hash-ordered
    sample => partition-invariant centroids)."""
    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    corpus = synth.embedding_table(spark, 200, 8, partitions=4)
    queries = corpus.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(
        corpus, queries, k=5, n_lists=8, n_probe=3, sample_cap=200, iters=6
    ).toPandas()
    brute = cosine_topk(corpus, queries, k=5).toPandas()
    hits = 0
    for qid, grp in brute.groupby("query_id"):
        want = set(grp["neighbor_id"])
        got = set(ivf[ivf["query_id"] == qid]["neighbor_id"])
        hits += len(want & got)
    recall = hits / len(brute)
    assert recall >= 0.6, recall
    # determinism under a different partitioning
    corpus2 = synth.embedding_table(spark, 200, 8, partitions=13)
    queries2 = corpus2.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf2 = ivf_topk(
        corpus2, queries2, k=5, n_lists=8, n_probe=3, sample_cap=200, iters=6
    ).toPandas()
    a = ivf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = ivf2.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_ivf_null_vectors_and_validation(spark):
    from image_feature_extraction_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    pdf = pd.DataFrame(
        {
            "vec_id": range(12),
            "embedding": [[float(i), 1.0] if i != 5 else None for i in range(12)],
        }
    )
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    q = e.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(e, q, k=3, n_lists=2, n_probe=2, sample_cap=100, iters=4).toPandas()
    assert 5 not in set(out["neighbor_id"])  # null vector excluded
    assert len(out) == 3
    with pytest.raises(ValueError, match="n_lists"):
        kmeans_centroids(e, n_lists=50)
