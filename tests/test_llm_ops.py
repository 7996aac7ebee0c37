"""LLM-pipeline operators (dedup / similarity / text / multimodal) vs
DuckDB oracles running the identical md5-derived algorithms."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_frames_match
from vtk_reserves_spark.functions import text as TX
from vtk_reserves_spark.functions.vectors import cosine, deterministic_hyperplanes, lsh_bucket
from vtk_reserves_spark.operators import multimodal as MM
from vtk_reserves_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    winnow_fingerprints,
    with_minhash,
)
from vtk_reserves_spark.operators.similarity import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_token_counts_match_oracle(docs, duck):
    out = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_ish_count(F.col("text")).alias("n_bpe"),
    )
    oracle = duck.sql(
        r"""
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                               w -> w != '')) AS n_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe
        FROM documents
        """
    )
    assert_frames_match(out, oracle)


def test_fingerprint_matches_oracle(docs, duck):
    out = docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
    oracle = duck.sql(
        r"""
        SELECT doc_id,
               md5(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                     '\s+', ' ', 'g'))) AS fp
        FROM documents
        """
    )
    assert_frames_match(out, oracle)


def test_minhash_signature_matches_oracle(docs, duck):
    out = docs.select(
        "doc_id", minhash_signature(F.col("text"), k=4).alias("sig")
    ).select(
        "doc_id",
        F.col("sig")[0].alias("s0"),
        F.col("sig")[1].alias("s1"),
        F.col("sig")[2].alias("s2"),
        F.col("sig")[3].alias("s3"),
    )
    norm = (
        r"list_distinct(list_filter(string_split_regex(trim(regexp_replace("
        r"regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), "
        r"'\s+', ' ', 'g')), '\s+'), w -> w != ''))"
    )
    from vtk_reserves_spark.operators.dedup import minhash_perm_consts

    consts = minhash_perm_consts(4, "mh")
    sig = lambda s: (
        f"list_min(list_transform({norm}, "
        f"w -> ({consts[s][0]} * ('0x' || substr(md5(w), 1, 8))::BIGINT "
        f"+ {consts[s][1]}) % 4294967311))"
    )
    oracle = duck.sql(
        f"SELECT doc_id, {sig(0)} AS s0, {sig(1)} AS s1, "
        f"{sig(2)} AS s2, {sig(3)} AS s3 FROM documents"
    )
    assert_frames_match(out, oracle)


def test_simhash_matches_oracle(docs, duck):
    out = docs.select("doc_id", simhash(F.col("text"), bits=8).alias("sh"))
    norm = (
        r"list_filter(string_split_regex(trim(regexp_replace("
        r"regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), "
        r"'\s+', ' ', 'g')), '\s+'), w -> w != '')"
    )
    bits = " + ".join(
        f"CASE WHEN 2*len(list_filter({norm}, "
        f"w -> (('0x'||substr(md5('sh_'||w),1,8))::BIGINT >> {b}) & 1 = 1)) "
        f"> len({norm}) THEN {1 << b} ELSE 0 END"
        for b in range(8)
    )
    oracle = duck.sql(f"SELECT doc_id, CAST({bits} AS BIGINT) AS sh FROM documents")
    assert_frames_match(out, oracle)


def test_exact_dedup_finds_synthesized_dups(docs, spark):
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    out = exact_dedup(both, "text", "doc_id")
    pdf = out.toPandas()
    assert (pdf.n_dups == 2).all()
    assert (pdf.keep_id < 100000).all()  # min id survives


def test_resize_media_nearest_neighbor_math(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    out = (
        MM.resize_media(MM.attach_payload(df), out_w=2, out_h=2, fake=True)
        .toPandas()
        .set_index("doc_id")
    )
    # doc 1: n=8, m=4 -> indices (i*8)//4 = 0,2,4,6 -> bytes a,c,e,g
    expect1 = np.mean([ord(c) for c in "aceg"])
    assert out.loc[1, "mean_byte"] == pytest.approx(expect1)
    assert (out.loc[1, ["out_w", "out_h", "n_bytes"]] == [2, 2, 4]).all()
    # doc 2: single byte replicated to all 4 samples
    assert out.loc[2, "mean_byte"] == pytest.approx(ord("x"))
    # doc 3: empty payload -> NULL mean
    assert pd.isna(out.loc[3, "mean_byte"])


def test_resize_media_real_codec(spark):
    """fake=False decodes REAL PNGs: 4x2 gradient image resized to 2x2
    picks source pixels ((r*2)//2, (c*4)//2) = rows 0,1 x cols 0,2."""
    from vtk_reserves_spark.sources.image import encode_png

    img = np.arange(8, dtype=np.uint8).reshape(2, 4) * 10
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img)))], "doc_id long, payload binary"
    ).withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ),
    )
    out = MM.resize_media(df, out_w=2, out_h=2, fake=False).toPandas()
    assert out.loc[0, "n_bytes"] == 4
    # sampled pixels: (0,0)=0, (0,2)=20, (1,0)=40, (1,2)=60 -> mean 30
    assert out.loc[0, "mean_byte"] == pytest.approx(30.0)


def test_multimodal_real_png_pipeline(spark):
    """attach_png_payload -> extract_features(fake=False) decodes actual
    pixels; verify geometry + mean against the synthesis rule."""
    texts = [(1, "hello world"), (2, ""), (3, "a")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = (
        MM.extract_features(MM.attach_png_payload(df), fake=False)
        .toPandas()
        .set_index("doc_id")
    )
    for doc_id, t in texts:
        b = t.encode()
        n = len(b)
        w, h = 8 + n % 9, 8 + n % 7
        assert out.loc[doc_id, "width"] == w
        assert out.loc[doc_id, "height"] == h
        want = np.mean([b[i % n] for i in range(w * h)]) if n else 0.0
        assert out.loc[doc_id, "mean_byte"] == pytest.approx(want)


def test_winnow_shared_run_guarantee(spark):
    # winnowing guarantee: two docs sharing a run of window+ngrams-1 = 6
    # words must share at least one fingerprint; disjoint docs share none
    common = "alpha bravo charlie delta echo foxtrot"
    df = spark.createDataFrame(
        [
            (1, f"intro one two {common} tail xx yy zz"),
            (2, f"other start {common} ending aa bb cc"),
            (3, "totally different words nothing matches here at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", ngrams=3, window=4).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in fps.groupby("doc_id")}
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    fps = winnow_fingerprints(df, "doc_id", "text").toPandas()
    # every doc still emits exactly one fingerprint (whole-text fallback)
    assert fps.groupby("doc_id").size().to_dict() == {1: 1, 2: 1, 3: 1}
    # the two effectively-empty docs agree
    e2 = fps[fps.doc_id == 2].fp.iloc[0]
    e3 = fps[fps.doc_id == 3].fp.iloc[0]
    assert e2 == e3


def test_minhash_lsh_finds_near_dups(docs, spark):
    # mutate: drop the last word -> high shingle overlap, same minhash
    # bands with high probability
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 5, 1))").alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(mutated)
    pairs = minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4).toPandas()
    # every (orig, mutated) pair should collide in at least one band
    expected = set(zip(range(500), range(100000, 100500)))
    got = set(zip(pairs.id_a, pairs.id_b))
    recall = len(expected & got) / len(expected)
    assert recall > 0.9, recall


def test_ngram_jaccard_pairs(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps",
                "the quick brown fox leaps",
                "completely different words here",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = ngram_jaccard_pairs(df, "id", "text", n=2, threshold=0.3).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(1, 2)}
    # shingles: 4 each, 3 shared -> jaccard 3/5
    assert out.jaccard.iloc[0] == pytest.approx(0.6)


def test_lang_id_deterministic(spark, duck):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat of the house and the dog",
                "el gato de la casa y que los perros",
                "der hund ist von den katzen und das haus",
                "xyzzy plugh qwerty",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select("doc_id", TX.lang_id(F.col("text")).alias("lang")).toPandas()
    assert out.sort_values("doc_id").lang.tolist() == ["en", "es", "de", "und"]


def test_quality_score_range(docs):
    out = docs.select(TX.quality_score(F.col("text")).alias("q")).toPandas()
    assert ((out.q >= 0) & (out.q <= 1)).all()
    assert out.q.nunique() > 10  # non-degenerate


def test_cosine_topk_vs_duckdb(emb, duck):
    queries = emb.where(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=3)
    oracle = duck.sql(
        """
        WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(q.qv, e.embedding) AS sim
          FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.qid
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 3
        """
    )
    # sims computed in different float precision: compare ranks + ids
    # exactly, sims loosely
    spdf = out.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    dpdf = oracle.df().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert spdf[["query_id", "neighbor_id", "rank"]].equals(
        dpdf[["query_id", "neighbor_id", "rank"]].astype(spdf[["query_id", "neighbor_id", "rank"]].dtypes.to_dict())
    )
    assert np.allclose(spdf.sim, dpdf.sim, atol=1e-5)


def test_lsh_topk_recall(emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=1).toPandas()
    approx = lsh_topk(emb, queries, k=1, n_bits=2).toPandas()
    merged = exact.merge(approx, on="query_id", suffixes=("_e", "_a"))
    recall = (merged.neighbor_id_e == merged.neighbor_id_a).mean()
    assert recall >= 0.5, recall  # 2-bit buckets: coarse but useful


def test_lsh_bucket_deterministic(emb, spark):
    planes = deterministic_hyperplanes(4, 64)
    a = emb.select("vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")).toPandas()
    b = emb.select("vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")).toPandas()
    assert a.equals(b)
    assert a.b.between(0, 15).all()


def test_multimodal_features_fake(docs, spark):
    payloads = MM.attach_payload(docs)
    feats = MM.extract_features(payloads, fake=True).toPandas()
    raw = docs.select("doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n")).toPandas()
    m = feats.merge(raw, on="doc_id")
    assert (m.width == m.n % 640).all()
    assert (m.height == m.n % 480).all()
    assert m.mean_byte.between(32, 127).all()  # ascii-ish corpus


def test_multimodal_decode_real_and_gated():
    from vtk_reserves_spark.sources.image import encode_png

    img = np.full((3, 5), 7, np.uint8)
    got = MM.decode_media(encode_png(img), "image/png", fake=False)
    assert got == {"width": 5, "height": 3, "mean_byte": 7.0}
    # non-PNG bytes with a png mime fail the magic check
    with pytest.raises(ValueError, match="not a PNG"):
        MM.decode_media(b"bytes", "image/png", fake=False)
    # audio/video codecs remain unavailable -> explicit gate
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"RIFF....WAVE", "audio/wav", fake=False)


def test_frame_sample(docs, spark, duck):
    payloads = MM.attach_payload(docs)
    out = MM.frame_sample(payloads, every_n_bytes=40)
    oracle = duck.sql(
        """
        SELECT doc_id,
               CAST(u.f AS INT) AS frame_idx,
               CAST(u.f * 40 AS BIGINT) AS byte_offset
        FROM documents,
             LATERAL (SELECT unnest(range(0,
                 CASE WHEN octet_length(encode(text)) = 0 THEN 0
                      ELSE (octet_length(encode(text)) - 1) // 40 + 1
                 END)) AS f) u
        """
    )
    assert_frames_match(out, oracle)


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with full probing (n_probe = n_centroids) must equal the
    exact brute-force ranking; partial probing keeps high top-1 recall."""
    from vtk_reserves_spark.operators.similarity import cosine_topk, ivf_topk
    from tests.conftest import TESTDATA

    emb = spark.read.parquet(f"{TESTDATA}/embeddings.parquet")
    queries = emb.where("vec_id < 5")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(
            emb, queries, k=3, n_centroids=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_kmv_exact_below_k(spark):
    from vtk_reserves_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("a", i % 10) for i in range(100)] + [("b", i) for i in range(3)],
        "g string, v long",
    )
    out = {r.g: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    # both groups have < k distinct values -> exact counts
    assert out["a"].n_kept == 10 and out["a"].est_distinct == 10.0
    assert out["b"].n_kept == 3 and out["b"].est_distinct == 3.0


def test_kmv_estimate_accuracy(spark):
    from vtk_reserves_spark.operators.sketch import kmv_distinct

    n = 5000
    df = spark.range(n).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    row = kmv_distinct(df, "g", "v", k=256).collect()[0]
    assert row.n_kept == 256
    # KMV relative error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    assert abs(row.est_distinct - n) / n < 0.25


def test_decontaminate_flags_planted_overlap(spark):
    from vtk_reserves_spark.operators.dedup import decontaminate_ngrams

    secret = "one two three four five"  # a full 5-gram
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words {secret} suffix words here"),
            (2, "completely clean document with no overlap at all"),
            (3, f"{secret} starts this one"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark question {secret} benchmark answer")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_hits for r in
           decontaminate_ngrams(corpus, bench, "doc_id", "text", ngrams=5).collect()}
    assert 1 in out and 3 in out and 2 not in out


def test_decontaminate_broadcasts_benchmark(spark):
    from vtk_reserves_spark.operators.dedup import decontaminate_ngrams

    corpus = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d e")], "doc_id long, text string")
    plan = decontaminate_ngrams(corpus, bench, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_signals_math(spark):
    from vtk_reserves_spark.operators.terms import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),       # bigrams: 3x "spam spam"
            (2, "a b c d"),                   # 3 distinct bigrams
            (3, "one"),                       # too short -> dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    assert out[1].n_grams == 3 and out[1].top_count == 3 and out[1].top_frac == 1.0
    assert out[2].n_grams == 3 and out[2].top_count == 1
    assert out[2].top_frac == pytest.approx(1 / 3)
    assert 3 not in out


def test_pii_redaction(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@site.org or visit https://x.io/a call 555-1234 now")],
        "doc_id long, text string",
    )
    t = F.col("text")
    counts = TX.pii_counts(t)
    row = df.select(
        counts["email"].alias("e"), counts["url"].alias("u"),
        counts["phone"].alias("p"), TX.redact_pii(t).alias("red"),
    ).collect()[0]
    assert (row.e, row.u, row.p) == (1, 1, 1)
    assert row.red == "mail [EMAIL] or visit [URL] call [PHONE] now"


def test_duplicate_clusters_transitive(spark):
    from vtk_reserves_spark.operators.dedup import duplicate_clusters

    # chain 1-2, 2-3 (transitive: all -> 1), pair 10-11, singleton 99
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster"]
        for r in duplicate_clusters(pairs, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_duplicate_clusters_long_chain_converges(spark):
    from vtk_reserves_spark.operators.dedup import duplicate_clusters

    # a 12-node path graph needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    got = duplicate_clusters(pairs).collect()
    assert {r["cluster"] for r in got} == {0}
    assert len(got) == 12


def test_hash_sample_deterministic_and_unbiased(docs, spark):
    from vtk_reserves_spark.operators.sampling import hash_sample

    s1 = hash_sample(docs, "doc_id", 0.5)
    s2 = hash_sample(docs.repartition(7), "doc_id", 0.5)
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # stable under repartitioning
    n = docs.count()
    assert abs(len(ids1) / n - 0.5) < 0.2


def test_stratified_sample_respects_fractions(docs):
    from vtk_reserves_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        docs, "lang", {"en": 1.0, "zh": 0.0}, "doc_id", default=0.0
    )
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.count() == docs.where("lang = 'en'").count()


def test_mix_corpus_epochs(spark):
    from vtk_reserves_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(200)], ["doc_id", "dom"]
    )
    out = mix_corpus(df, "dom", {"a": 2.0, "b": 0.5}, "doc_id").toPandas()
    a = out[out.dom == "a"]
    b = out[out.dom == "b"]
    # every 'a' doc appears exactly twice (epochs 1, 2)
    assert sorted(a.epoch.unique()) == [1, 2]
    assert len(a) == 200
    # 'b' docs appear at most once, roughly half kept
    assert b.epoch.max() == 1
    assert 20 < len(b) < 80


def test_kmv_merge_equals_direct(spark):
    """KMV mergeability: merging fine-grain sketches gives bit-identical
    estimates to sketching the raw data at the coarse grain."""
    from tests.conftest import TESTDATA
    from vtk_reserves_spark.operators.sketch import kmv_distinct, kmv_merge, kmv_sketch

    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
    direct = (
        kmv_distinct(li, "l_returnflag", "l_orderkey", k=64)
        .orderBy("l_returnflag")
        .collect()
    )
    fine = kmv_sketch(li, ["l_returnflag", "l_linestatus"], "l_orderkey", k=64)
    merged = kmv_merge(fine, "l_returnflag", k=64).orderBy("l_returnflag").collect()
    assert [(r.l_returnflag, r.n_kept, r.est_distinct) for r in direct] == [
        (r.l_returnflag, r.n_kept, r.est_distinct) for r in merged
    ]
    # estimate sanity: KMV std error ~ 1/sqrt(k-2) ~ 12.7% at k=64;
    # allow ~2.7 sigma
    truth = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_orderkey").alias("n"))
        .collect()
    }
    for r in merged:
        assert abs(r.est_distinct - truth[r.l_returnflag]) / truth[r.l_returnflag] < 0.35


def test_lsh_max_bucket_cap(spark):
    """The skew cap drops oversized buckets; pairs from small buckets
    survive.  Identical docs all share every band key, so a cap below
    the clique size removes their pairs entirely."""
    same = [(i, "same words in every single document here") for i in range(10)]
    df = spark.createDataFrame(same + [(100, "aa bb cc dd ee"), (101, "aa bb cc dd ee zz")], "doc_id long, text string")
    uncapped = minhash_lsh_pairs(df, "doc_id", "text", k=8, bands=4, ngrams=1)
    assert uncapped.count() >= 45  # the 10-clique alone is 45 pairs
    capped = minhash_lsh_pairs(
        df, "doc_id", "text", k=8, bands=4, ngrams=1, max_bucket=5
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert all(a >= 100 for a, _ in got)  # clique gone, small bucket kept
    assert (100, 101) in got


def test_pack_offsets_spans(spark):
    """Hand-checked packing: single shard, window 10 — spans and bins
    follow the concat-and-chunk rule, empty docs occupy zero tokens."""
    from vtk_reserves_spark.operators.packing import pack_offsets

    df = spark.createDataFrame(
        [(1, 4), (2, 8), (3, 0), (4, 10), (5, 3)], "doc_id long, n long"
    )
    out = (
        pack_offsets(df, "doc_id", "n", window=10, shards=1)
        .orderBy("doc_id")
        .collect()
    )
    got = [(r.doc_id, r.start_tok, r.bin_first, r.bin_last) for r in out]
    # cumsum starts: 0, 4, 12, 12, 22 ; ends: 4, 12, 12, 22, 25
    assert got == [
        (1, 0, 0, 0),     # tokens 0-3   -> bin 0
        (2, 4, 0, 1),     # tokens 4-11  -> spans bins 0-1
        (3, 12, 1, 1),    # empty at offset 12 -> bin 1
        (4, 12, 1, 2),    # tokens 12-21 -> spans bins 1-2
        (5, 22, 2, 2),    # tokens 22-24 -> bin 2
    ]
    # shard split is deterministic and total
    many = spark.range(100).select(F.col("id").alias("doc_id"), F.lit(5).alias("n"))
    packed = pack_offsets(many, "doc_id", "n", window=16, shards=4)
    assert packed.count() == 100
    assert packed.select("shard").distinct().count() == 4


def test_simhash_pairs_blocking_complete(spark):
    """Band blocking finds EVERY pair within the pigeonhole guarantee:
    compare against a brute-force hamming join on a small corpus."""
    from vtk_reserves_spark.operators.dedup import simhash_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 3}") for i in range(30)] + [
        (100 + i, f"completely different words number {i} here") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(df, "doc_id", "text", bits=32, bands=4).collect()
    }
    sh = {r.doc_id: r.sh for r in df.select(
        "doc_id",
        __import__("vtk_reserves_spark.operators.dedup", fromlist=["simhash"]).simhash(
            F.col("text"), bits=32
        ).alias("sh"),
    ).collect()}
    ids = sorted(sh)
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert got == brute
    assert len(brute) > 0  # the template docs really do pair


def test_remove_duplicate_segments_hand_checked(spark):
    """Planted boilerplate (one shared 8-token window) is dropped from
    every doc; unique segments survive in order; an all-boilerplate doc
    collapses to empty text with n_kept 0."""
    from vtk_reserves_spark.operators.dedup import remove_duplicate_segments

    boiler = "subscribe to our newsletter for all the updates"  # 8 tokens
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " one two three four five six seven eight"),
        (3, "iota kappa lambda mu nu xi omicron pi " + boiler),
        (4, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_segments(
            df, "doc_id", "text", chunk_tokens=8, min_docs=2
        ).collect()
    }
    assert out[1].text_clean == "alpha beta gamma delta epsilon zeta eta theta"
    assert out[1].n_kept == 1 and out[1].n_dropped == 1
    assert out[2].text_clean == "one two three four five six seven eight"
    # doc 3 has the boilerplate LAST: surviving segment order is preserved
    assert out[3].text_clean == "iota kappa lambda mu nu xi omicron pi"
    assert out[4].text_clean == "" and out[4].n_kept == 0 and out[4].n_dropped == 1


def test_learn_bpe_matches_reference(spark):
    """The distributed learner reproduces a pure-Python reference BPE
    (same greedy rule, same (count DESC, pair ASC) tie-break) merge for
    merge; encoding round-trips each word's characters."""
    from vtk_reserves_spark.operators.bpe import (
        _merge_word,
        encode_bpe,
        learn_bpe,
        word_counts,
    )

    words = ["spark", "spare", "spear", "pears", "parse", "sparse",
             "apers", "reaps"]
    rows = [(i, " ".join(words[(i + j) % len(words)] for j in range(1 + i % 5)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    wc = {r.word: r["count"] for r in word_counts(docs).collect()}

    def ref_bpe(counts, k, min_freq=2):
        vocab = {tuple(w): c for w, c in counts.items()}
        merges = []
        for _ in range(k):
            pairs = {}
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + c
            if not pairs:
                break
            (a, b), f = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if f < min_freq:
                break
            merges.append((a, b, f))
            vocab = {
                tuple(_merge_word(list(s), a, b)): c for s, c in vocab.items()
            }
        return merges

    want = ref_bpe(wc, 10)
    got = learn_bpe(word_counts(docs), 10)  # small vocab -> driver path
    assert got == want, (got, want)
    # force the DISTRIBUTED rounds and pin them to the same sequence
    dist = learn_bpe(word_counts(docs), 10, driver_threshold=0)
    assert dist == want, (dist, want)

    enc = encode_bpe(docs, got)
    for r in enc.select("text", "bpe_tokens").collect():
        joined = "".join(r.bpe_tokens)
        assert joined == r.text.replace(" ", "")


def test_duplicate_spans_any_alignment(spark):
    """A shared 10-token run is found at DIFFERENT offsets in each doc
    (fixed-chunk dedup would miss the shifted copy), overlapping window
    hits merge to one maximal span, and two separated runs in one doc
    stay separate islands."""
    from vtk_reserves_spark.operators.dedup import duplicate_spans

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    other = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    rows = [
        (1, run + " filler1 filler2 filler3 " + other),
        (2, "pad1 pad2 pad3 " + run + " tail1 tail2"),
        (3, other + " mid " + "x1 x2 x3 x4 x5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, window=4, min_docs=2).collect()
    }
    # doc 1: run at tokens 0-9 AND other at 13-22 -> two islands
    assert (1, 0, 9) in spans
    assert (1, 13, 22) in spans
    # doc 2: the SAME run but shifted to tokens 3-12
    assert (2, 3, 12) in spans
    # doc 3: other at 0-9
    assert (3, 0, 9) in spans
    assert len(spans) == 4


def test_heavy_hitters_guarantees_under_eviction(spark):
    """capacity << cardinality: every item with true frequency >
    n/capacity must appear, and count_min <= true <= count_max."""
    from vtk_reserves_spark.operators.sketch import heavy_hitters

    # 3 heavy items (1200/900/600) drowned in 2000 singleton keys
    rows = (
        [("hot1",)] * 1200 + [("hot2",)] * 900 + [("hot3",)] * 600
        + [(f"noise{i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(8)
    out = {r.item: r for r in heavy_hitters(df, "key", k=5, capacity=64).collect()}
    n = len(rows)
    true = {"hot1": 1200, "hot2": 900, "hot3": 600}
    for item, t in true.items():
        assert t > n / 64
        assert item in out, item  # the space-saving presence guarantee
        assert out[item].count_min <= t <= out[item].count_max, (item, out[item])
    # top-3 ranks by upper bound are exactly the hot items
    by_rank = sorted(out.values(), key=lambda r: r.rank)
    assert {r.item for r in by_rank[:3]} == set(true)


def test_heavy_hitters_cross_partition_upper_bound(spark):
    """An item heavy in one partition but EVICTED in another must keep
    count_max >= its true count: absent partitions contribute their
    summary floor to the upper bound (the proper space-saving merge)."""
    from vtk_reserves_spark.operators.sketch import heavy_hitters

    # partition A (part=0): X dominates, no eviction pressure on X
    # partition B (part=1): X appears early, then a flood of distinct
    # keys with capacity 8 evicts it
    rows = [("X", 0)] * 100 + [("X", 1)] * 50 + [
        (f"flood{i}", 1) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "key string, part int").repartition(
        2, "part"
    )
    out = {r.item: r for r in heavy_hitters(df, "key", k=3, capacity=8).collect()}
    assert "X" in out
    assert out["X"].count_min <= 150 <= out["X"].count_max, out["X"]


def test_simhash_wide_signature_high_bits_vary(spark):
    """bits=48 signatures must use a >32-bit word hash: across a varied
    corpus the high 16 bits cannot be constant (regression: a 32-bit
    word hash zeroed every signature bit past 31, collapsing the high
    simhash_pairs bands into one all-corpus bucket)."""
    from vtk_reserves_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta text number {i * 17}")
         for i in range(40)],
        "doc_id long, text string",
    )
    highs = {
        r.hi for r in df.select(
            F.shiftright(simhash(F.col("text"), bits=48), 32).alias("hi")
        ).collect()
    }
    assert len(highs) > 1, "high signature bits are constant"
    with pytest.raises(ValueError, match="at most 60 bits"):
        simhash(F.col("text"), bits=64)


def test_similarity_guards(spark):
    """ivf_topk raises on non-dense ids instead of silently returning
    zero rows; lsh_topk raises on a dim mismatch instead of collapsing
    every vector into bucket 0; near-dup pairs skip NULL embeddings."""
    from vtk_reserves_spark.operators.similarity import (
        embedding_near_dup_pairs,
        ivf_topk,
        lsh_topk,
    )

    vec = [float(i) for i in range(8)]
    corpus = spark.createDataFrame(
        [(1000001 + i, vec) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dense integer ids"):
        ivf_topk(corpus, corpus, n_centroids=16).collect()
    with pytest.raises(ValueError, match="!= dim"):
        lsh_topk(corpus, corpus, dim=64)
    with_null = spark.createDataFrame(
        [(1, vec), (2, vec), (3, None)],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_dup_pairs(with_null, dim=8).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_charlm_perplexity_flags_outliers(spark):
    """Natural text scores lower perplexity under the corpus-trained
    bigram model than single-char padding or mojibake-like noise; a
    sub-2-char doc has no bigrams and returns NULLs."""
    from vtk_reserves_spark.operators.terms import charlm_perplexity

    english = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a model of the corpus assigns high probability to common pairs",
        "training data quality filters remove noise from the web crawl",
        "the spark engine reads parquet files and aggregates the rows",
        "common english words share many of the same character pairs",
    ]
    # 50 natural docs so the corpus model is dominated by real text and
    # the lone noise doc's self-contributed counts stay marginal
    rows = [(i, english[i % 5]) for i in range(50)]
    rows.append((101, "qxqzjqxkvjwzqxjkvzwqjxkzvqwjzxkqvzwj"))
    rows.append((102, "x"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = charlm_perplexity(df, "doc_id", "text").toPandas().set_index("doc_id")
    nat_max = out.loc[0:49, "ppl"].max()
    # the uniform-noise doc must sit far above every natural doc
    assert out.loc[101, "ppl"] > nat_max * 2
    assert out.loc[102, "n_bigrams"] == 0
    assert pd.isna(out.loc[102, "ppl"])
    # n_bigrams is exactly len-1 for each scored doc
    for i in range(5):
        assert out.loc[i, "n_bigrams"] == len(english[i]) - 1


def test_charlm_perplexity_matches_hand_model(spark):
    """Two-doc corpus, hand-computed smoothed bigram probabilities."""
    import math

    from vtk_reserves_spark.operators.terms import charlm_perplexity

    df = spark.createDataFrame([(1, "aab"), (2, "ab")], "doc_id long, text string")
    out = charlm_perplexity(df, "doc_id", "text", alpha=0.5).toPandas()
    out = out.set_index("doc_id")
    # corpus bigrams: doc1 -> aa, ab; doc2 -> ab.  model: n(aa)=1, n(ab)=2
    # totals: n(a·)=3; V = |{a, b}| = 2
    p_aa = (1 + 0.5) / (3 + 0.5 * 2)
    p_ab = (2 + 0.5) / (3 + 0.5 * 2)
    exp1 = -(math.log(p_aa) + math.log(p_ab)) / 2
    exp2 = -math.log(p_ab)
    assert abs(out.loc[1, "avg_logp"] + exp1) < 1e-12
    assert abs(out.loc[2, "avg_logp"] + exp2) < 1e-12
    assert abs(out.loc[1, "ppl"] - math.exp(exp1)) < 1e-12


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abc ", min_size=0, max_size=12),
            min_size=1,
            max_size=8,
        )
    )
    def test_charlm_perplexity_property_vs_reference(spark, texts):
        """Property: for arbitrary tiny corpora (including empty and
        sub-2-char docs), avg_logp matches a pure-Python bigram model
        with the same add-alpha smoothing."""
        import math
        from collections import Counter

        from vtk_reserves_spark.operators.terms import charlm_perplexity

        alpha = 0.5
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = (
            charlm_perplexity(df, "doc_id", "text", alpha=alpha)
            .toPandas()
            .set_index("doc_id")
        )
        # reference model
        bigrams = Counter()
        for _, t in rows:
            for i in range(len(t) - 1):
                bigrams[t[i : i + 2]] += 1
        first = Counter()
        for bg, n in bigrams.items():
            first[bg[0]] += n
        vocab = {bg[1] for bg in bigrams}
        for i, t in rows:
            if len(t) < 2:
                assert out.loc[i, "n_bigrams"] == 0
                assert pd.isna(out.loc[i, "avg_logp"])
                continue
            lps = [
                math.log(
                    (bigrams[t[j : j + 2]] + alpha)
                    / (first[t[j]] + alpha * len(vocab))
                )
                for j in range(len(t) - 1)
            ]
            assert out.loc[i, "n_bigrams"] == len(lps)
            assert out.loc[i, "avg_logp"] == pytest.approx(
                sum(lps) / len(lps), rel=1e-9
            )


def test_chunk_documents_hand_checked(spark):
    from vtk_reserves_spark.operators.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "only two"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(
        df, "doc_id", "text", chunk_tokens=4, overlap=1
    ).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    # stride 3: candidate starts 0,3,6,9 — but 9 >= n-overlap (10-1),
    # so its 1-token window is a strict subset of chunk [6,10) and is
    # dropped; every token is still covered
    assert d1.start_tok.tolist() == [0, 3, 6]
    assert d1.n_tokens.tolist() == [4, 4, 4]
    assert d1.chunk_text.tolist()[0] == "w0 w1 w2 w3"
    assert d1.chunk_text.tolist()[-1] == "w6 w7 w8 w9"
    # consecutive chunks share exactly `overlap` tokens
    assert d1.chunk_text.tolist()[0].split()[-1:] == d1.chunk_text.tolist()[1].split()[:1]
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.iloc[0].chunk_text == "only two"
    # empty/whitespace docs yield no chunks
    assert set(out.doc_id) == {1, 2}

    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_chunk_documents_covers_every_token_no_subset_chunks(spark):
    """Every token index is covered, chunk token counts sum to
    n + overlap*(n_chunks-1), and no chunk is a subset of another —
    across lengths that do and do not trigger the trailing-window
    drop."""
    from vtk_reserves_spark.operators.packing import chunk_documents

    for n in (57, 25, 16, 13, 12, 5, 1):
        text = " ".join(f"t{i}" for i in range(n))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = chunk_documents(
            df, "doc_id", "text", chunk_tokens=16, overlap=4
        ).toPandas()
        spans = [
            (r.start_tok, r.start_tok + r.n_tokens) for r in out.itertuples()
        ]
        covered = set()
        for a, b in spans:
            covered |= set(range(a, b))
        assert covered == set(range(n)), n
        assert out.n_tokens.sum() == n + 4 * (len(out) - 1), n
        for i, (a1, b1) in enumerate(spans):
            for j, (a2, b2) in enumerate(spans):
                if i != j:
                    assert not (a2 >= a1 and b2 <= b1), (n, spans)


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: after two Lloyd iterations from the
    first-k init, every centroid sits exactly on its blob mean and
    n_assigned matches the blob sizes; guards reject bad params."""
    from vtk_reserves_spark.operators.similarity import kmeans_fit

    blobs = {0: (0.0, 0.0), 1: (100.0, 0.0), 2: (0.0, 100.0)}
    rows = []
    vid = 0
    for b, (cx, cy) in blobs.items():
        for i in range(4 + b):  # sizes 4, 5, 6
            rows.append((vid, [cx + (i % 2), cy + (i % 3)]))
            vid += 1
    # ids 0..2 land one in... first-3 init picks ids 0,1,2 (all blob 0)
    # — shuffle ids so the three init vectors span the blobs, the
    # benign regime Lloyd converges in (empty-cluster drop is separate)
    remap = {r[0]: r for r in rows}
    order = [0, 4, 9] + [i for i in range(vid) if i not in (0, 4, 9)]
    rows = [(new_id, remap[old][1]) for new_id, old in enumerate(order)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = (
        kmeans_fit(df, "vec_id", "embedding", k=3, n_iter=2)
        .toPandas()
        .sort_values("centroid_id")
    )
    assert out.n_assigned.tolist() == [4, 5, 6]
    import numpy as np

    expected = {}
    for new_id, old in enumerate(order):
        b = 0 if old < 4 else (1 if old < 9 else 2)
        expected.setdefault(b, []).append(remap[old][1])
    for cid, members in expected.items():
        mean = np.mean(np.array(members, dtype=float), axis=0)
        got = np.array(out.iloc[cid].centroid, dtype=float)
        assert np.allclose(got, mean, atol=1e-6), cid

    with pytest.raises(ValueError, match="positive"):
        kmeans_fit(df, k=0)


def test_ivf_with_trained_centroids_matches_exact(spark, emb):
    """ivf_topk with kmeans centroids and full probing returns the same
    neighbors as the exact scan (probing every cell = no pruning)."""
    from vtk_reserves_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_fit,
    )

    corpus = emb.limit(80).cache()
    queries = corpus.limit(3)
    cents = kmeans_fit(corpus, "vec_id", "embedding", k=4, n_iter=2)
    approx = ivf_topk(
        corpus, queries, k=5, n_probe=4, centroids=cents
    ).toPandas()
    exact = cosine_topk(corpus, queries, k=5).toPandas()
    key = ["query_id", "rank"]
    a = approx.sort_values(key).reset_index(drop=True)
    e = exact.sort_values(key).reset_index(drop=True)
    assert a["neighbor_id"].tolist() == e["neighbor_id"].tolist()


def test_kmeans_guards_and_null_handling(spark):
    """Offset/non-dense ids fail loudly (not silently empty); NULL and
    dimension-mismatched vectors are excluded from assignment, counts,
    and means; an empty centroids relation is rejected by ivf_topk."""
    from vtk_reserves_spark.operators.similarity import (
        ivf_topk,
        kmeans_fit,
    )

    offset = spark.createDataFrame(
        [(100 + i, [float(i), 0.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="no vectors"):
        kmeans_fit(offset, k=2)

    dirty = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.2, 0.2]),
            (3, None),
            (4, [1.0, 2.0, 3.0]),  # wrong dimension
        ],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_fit(dirty, k=2, n_iter=2).toPandas().sort_values("centroid_id")
    # only the three clean 2-dim vectors participate: cluster 0 holds
    # ids 0 and 2, cluster 1 holds id 1; NULL/ragged rows are gone
    assert out.n_assigned.tolist() == [2, 1]
    assert [len(c) for c in out.centroid] == [2, 2]
    import numpy as np

    assert np.allclose(out.iloc[0].centroid, [0.1, 0.1])
    assert np.allclose(out.iloc[1].centroid, [10.0, 10.0])

    empty_cents = kmeans_fit(dirty, k=2).where(F.lit(False))
    with pytest.raises(ValueError, match="empty centroids"):
        ivf_topk(dirty, dirty, k=1, centroids=empty_cents)


def test_kmv_ignores_nulls(spark):
    """A NULL value must neither occupy a k-slot (shrinking the sketch
    below k and faking an exact count) nor count as a distinct value;
    all-NULL groups vanish."""
    from vtk_reserves_spark.operators.sketch import kmv_distinct, kmv_sketch

    rows = [("g1", i) for i in range(200)] + [("g1", None), ("g2", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    clean = spark.createDataFrame(
        [("g1", i) for i in range(200)], "k string, v int"
    )
    got = kmv_distinct(df, "k", "v", k=64).toPandas().set_index("k")
    want = kmv_distinct(clean, "k", "v", k=64).toPandas().set_index("k")
    assert "g2" not in got.index
    assert got.loc["g1", "n_kept"] == want.loc["g1", "n_kept"] == 64
    assert got.loc["g1", "est_distinct"] == want.loc["g1", "est_distinct"]
    sk = kmv_sketch(df, "k", "v", k=64).toPandas().set_index("k")
    assert len(sk.loc["g1", "sketch"]) == 64


def test_unit_and_lsh_bucket_null_handling(spark):
    """unit() yields NULL elements on a zero norm instead of an ANSI
    divide-by-zero abort; lsh_bucket sends NULL/ragged vectors to a
    NULL bucket instead of bucket 0."""
    from vtk_reserves_spark.functions.vectors import (
        deterministic_hyperplanes,
        lsh_bucket,
        norm,
        unit,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None), (4, [1.0, 2.0, 3.0])],
        "id long, v array<float>",
    )
    planes = deterministic_hyperplanes(4, 2)
    out = (
        df.select(
            "id",
            F.col("v"),
            norm(F.col("v")).alias("n"),
        )
        .select(
            "id",
            unit(F.col("v"), F.col("n")).alias("u"),
            lsh_bucket(F.col("v"), planes).alias("b"),
            lsh_bucket(F.col("v"), []).alias("b0"),
        )
        .toPandas()
        .set_index("id")
    )
    assert np.allclose(list(out.loc[1, "u"]), [0.6, 0.8])
    assert all(pd.isna(x) for x in out.loc[2, "u"])  # zero norm, no abort
    assert pd.isna(out.loc[3, "b"])  # NULL vector -> NULL bucket
    assert pd.isna(out.loc[4, "b"])  # ragged vector -> NULL bucket
    assert not pd.isna(out.loc[2, "b"])  # zero vector is a VALID bucket
    # no hyperplanes: every non-NULL vector shares bucket 0
    assert out.loc[[1, 2, 4], "b0"].tolist() == [0, 0, 0]
    assert pd.isna(out.loc[3, "b0"])


def test_fuzzy_join_pairs_hand_checked(spark):
    from vtk_reserves_spark.operators.dedup import fuzzy_join_pairs

    df = spark.createDataFrame(
        [
            (1, "goldenrod lace"),
            (2, "goldenrod lacy"),   # 1 sub from 1
            (3, "goldenrod laces"),  # 1 ins from 1, 2 edits from 2
            (4, "chocolate spring"), # unrelated
            (5, "ab"),               # shorter than ngram: never matches
        ],
        "id long, name string",
    )
    out = fuzzy_join_pairs(df, "id", "name", max_distance=2).toPandas()
    got = {(r.id_a, r.id_b): r.dist for r in out.itertuples()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2}

    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_join_pairs(df, "id", "name", max_distance=-1)


def test_fuzzy_join_is_case_insensitive_and_caps_buckets(spark):
    from vtk_reserves_spark.operators.dedup import fuzzy_join_pairs

    df = spark.createDataFrame(
        [(1, "Goldenrod Lace"), (2, "goldenrod lacE")],
        "id long, name string",
    )
    out = fuzzy_join_pairs(df, "id", "name", max_distance=0).toPandas()
    assert len(out) == 1 and out.iloc[0].dist == 0
    # max_bucket=0 drops every gram -> no candidates, bounded fan-out
    capped = fuzzy_join_pairs(
        df, "id", "name", max_distance=0, max_bucket=0
    ).toPandas()
    assert len(capped) == 0


def test_frame_sample_offsets_stay_inside_payload(spark):
    """ceil(n/every) frames: exact multiples must not emit a
    past-the-end frame and empty payloads emit none."""
    from vtk_reserves_spark.operators import multimodal as MM2

    df = spark.createDataFrame(
        [(1, "a" * 80), (2, "b" * 75), (3, "")], "doc_id long, text string"
    )
    out = MM2.frame_sample(MM2.attach_payload(df), every_n_bytes=40).toPandas()
    by_doc = {d: g for d, g in out.groupby("doc_id")}
    assert by_doc[1].byte_offset.tolist() == [0, 40]  # NOT 80
    assert by_doc[2].byte_offset.tolist() == [0, 40]
    assert 3 not in by_doc


def test_minhash_lsh_rejects_bad_band_config(spark):
    from vtk_reserves_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, "doc_id", "text", k=8, bands=16)
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, "doc_id", "text", k=10, bands=4)


def test_bloom_decontaminate_flags_planted_overlap(spark):
    """Bloom decontamination has NO false negatives: every true overlap
    is flagged, and with a roomy bitset the planted-clean doc stays
    clean too."""
    from vtk_reserves_spark.operators.dedup import (
        bloom_decontaminate,
        build_bloom_bits,
    )

    secret = "one two three four five"
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words {secret} suffix words here"),
            (2, "completely clean document with no overlap at all"),
            (3, f"{secret} starts this one"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark question {secret} benchmark answer")],
        "doc_id long, text string",
    )
    bits = build_bloom_bits(bench, "text", ngrams=5, m_bits=8192, k_hashes=2)
    assert len(bits) == 8192 // 64 and any(b != 0 for b in bits)
    out = {
        r.doc_id: r.n_hits
        for r in bloom_decontaminate(
            corpus, bits, "doc_id", "text", ngrams=5, k_hashes=2
        ).collect()
    }
    assert 1 in out and 3 in out
    # with ~7 benchmark grams in 8192 bits the FP chance is ~1e-5
    assert 2 not in out
    with pytest.raises(ValueError, match="multiple of 64"):
        build_bloom_bits(bench, "text", m_bits=100)


def test_bloom_decontaminate_plan_shape(spark):
    """The corpus side must stay narrow and JOIN-FREE: the bitset is a
    plan literal, membership is a scalar bit test, and the only
    Exchange is the per-document count over HIT grams.  Also pins the
    explode_outer formulation: a pushed/inferred filter must not clone
    the tokenize tree into the scan (the 14x regression documented on
    the operator)."""
    from vtk_reserves_spark.operators.dedup import bloom_decontaminate

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string"
    )
    out = bloom_decontaminate(corpus, [0] * 128, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan  # the hits-only groupBy
    # the scan-level filter must not contain the tokenizer (regex split):
    # that would mean the inferred-filter inlining regression is back
    scan_filters = [
        l for l in plan.splitlines()
        if l.strip().startswith("Filter") and "split" in l
    ]
    assert not scan_filters, scan_filters


def test_quota_sample_cap_and_determinism(spark):
    from vtk_reserves_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, f"d{i % 4}") for i in range(100)], "id long, dom string"
    )
    out = quota_sample(df, "dom", 5, "id")
    rows = out.collect()
    from collections import Counter

    c = Counter(r.dom for r in rows)
    assert all(v == 5 for v in c.values()) and len(c) == 4
    # deterministic: identical selection on re-run and after reshuffle
    again = quota_sample(df.repartition(7), "dom", 5, "id").collect()
    assert sorted(r.id for r in rows) == sorted(r.id for r in again)
    # k larger than group size keeps everything
    assert quota_sample(df, "dom", 100, "id").count() == 100
    # plan: exactly one exchange (the keyed window shuffle)
    plan = quota_sample(df, "dom", 5, "id")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_surt_key_unit(spark):
    from pyspark.sql import functions as F

    from vtk_reserves_spark.functions.urls import surt_key

    cases = [
        ("https://www.News.BBC.co.uk/sport", "uk,co,bbc,news)/sport"),
        ("http://user:pw@Example.COM:8080/a/b", "com,example)/a/b"),
        ("https://example.org", "org,example)"),
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.s for r in df.select(surt_key(F.col("u")).alias("s")).collect()]
    assert got == [w for _, w in cases]


def test_script_fractions_and_curation_policy_edges(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vtk_reserves_spark.functions.text import (
        curation_policy, script_fractions,
    )

    df = spark.createDataFrame(
        [(0, "Hello Мир"), (1, ""), (2, None), (3, "   ")],
        "id long, t string",
    )
    fr = script_fractions(F.col("t"))
    rows = df.select(
        "id", fr["frac_latin"].alias("lat"), fr["frac_cyrillic"].alias("cyr")
    ).orderBy("id").collect()
    assert rows[0].lat == 0.625 and rows[0].cyr == 0.375  # 5+3 of 8
    assert rows[1].lat == 0.0 and rows[1].cyr == 0.0
    assert rows[2].lat is None
    assert rows[3].lat == 0.0  # all-space -> zero fractions

    pol = curation_policy(F.col("t"), "c4")
    out = df.select(
        "id", pol["keep"].alias("k"), pol["reason"].alias("r")
    ).orderBy("id").collect()
    # short strings fail too_few_words; NULL text is never kept
    assert out[0].r == "too_few_words" and not out[0].k
    assert out[2].k is False or out[2].k is None

    with _pytest.raises(ValueError, match="unknown curation policy"):
        curation_policy(F.col("t"), "nope")


def test_hard_negatives_excludes_same_label_and_near_dups(spark):
    import pandas as pd
    from pyspark.sql import types as T

    from vtk_reserves_spark.operators.similarity import hard_negatives

    # 2-D toy space: label 0 along x, label 1 along y, one near-dup
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.05], 0),   # same label as query: excluded
        (2, [0.9, 0.44], 1),
        (3, [0.5, 0.87], 1),
        (4, [1.0, 0.001], 1),    # different label but ~identical: ceiling
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]),
    )
    q = df.where(F.col("vec_id") == 0)
    got = hard_negatives(df, q, k=2, max_sim=0.999).collect()
    ids = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert ids == [2, 3]  # 1 excluded by label, 4 by the ceiling
    # without the ceiling the near-dup wins
    got2 = hard_negatives(df, q, k=1).collect()
    assert got2[0].neighbor_id == 4


def test_semantic_dedup_keep_first_within_cluster(spark):
    """SemDeDup-shaped dedup: planted twins drop, originals keep,
    and the cross-cluster pair never dedups even at sim ~1."""
    import numpy as np

    from vtk_reserves_spark.operators.similarity import semantic_dedup

    rs = np.random.RandomState(2)
    base = rs.randn(12, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # twins of 3 and 7 (same direction, higher ids -> dropped)
    rows.append((100, [float(x) for x in base[3] * 1.001]))
    rows.append((101, [float(x) for x in base[7] * 0.999]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # two fixed centroids: vectors 0 and 1
    cents = spark.createDataFrame(
        [(0, [float(x) for x in base[0]]), (1, [float(x) for x in base[1]])],
        "centroid_id int, centroid array<double>",
    )
    out = {
        r["vec_id"]: (r["centroid_id"], r["kept"])
        for r in semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert len(out) == 14
    # twins share their original's cluster and are dropped
    assert out[100][0] == out[3][0] and out[100][1] is False
    assert out[101][0] == out[7][0] and out[101][1] is False
    # originals (lower ids) are kept
    assert out[3][1] is True and out[7][1] is True
    # random non-dup vectors all keep (sims far below 0.95)
    assert all(out[i][1] for i in range(12))


def test_semantic_dedup_cluster_locality(spark):
    """Identical vectors in DIFFERENT clusters both survive — the
    dedup scope is the cluster, per the SemDeDup design."""
    from vtk_reserves_spark.operators.similarity import semantic_dedup

    # centroids at +x and -x; two identical-direction pairs, one per side
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "centroid_id int, centroid array<double>",
    )
    df = spark.createDataFrame(
        [
            (10, [5.0, 0.1]),
            (11, [-5.0, 0.1]),  # same |cos| story but other cluster
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    }
    assert out[10]["centroid_id"] == 0 and out[10]["kept"]
    assert out[11]["centroid_id"] == 1 and out[11]["kept"]


# -------------------------------------------------- product quantization


def test_pq_degenerate_exact_reconstruction(spark):
    """One-value-per-code fixture: with k >= distinct subvector values
    the trained codebook IS the value set, encoding reconstructs
    exactly, and ADC == exact L2 (the q:pq_topk_degenerate oracle)."""
    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    d, k = 8, 4
    rows = [(i, [float((i + j) % k) for j in range(d)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = pq_train(df, m=d, k=k, n_iter=2)
    got = sorted(
        r["centroid"][0]
        for r in cb.where("subspace = 3").collect()
    )
    assert got == [0.0, 1.0, 2.0, 3.0]
    codes = pq_encode(df, cb, m=d)
    q = spark.createDataFrame(
        [(0, [0.0] * d)], "query_id bigint, embedding array<double>"
    )
    top = pq_topk(codes, cb, q, k=3).orderBy("rank").collect()
    # all-zero query: d2 = 2*(0+1+4+9) = 28 for every vector; ties
    # resolve by ascending vec_id globally (partition-safe lexsort)
    assert [r["vec_id"] for r in top] == [0, 1, 2]
    assert all(r["d2"] == 28.0 for r in top)


def test_pq_recall_on_random_vectors(spark):
    import numpy as np

    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    rng = np.random.default_rng(11)
    data = rng.normal(size=(150, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(150)],
        "vec_id bigint, embedding array<double>",
    )
    cb = pq_train(df, m=4, k=16, n_iter=2)
    codes = pq_encode(df, cb, m=4)
    q = spark.createDataFrame(
        [(0, [float(x) for x in data[5]])],
        "query_id bigint, embedding array<double>",
    )
    top = pq_topk(codes, cb, q, k=10).toPandas()
    exact = set(np.argsort(((data - data[5]) ** 2).sum(1))[:10].tolist())
    assert len(set(top["vec_id"]) & exact) >= 4  # ADC recall floor
    assert 5 in set(top["vec_id"])  # the vector itself survives


def test_pq_gates(spark):
    import pytest as _pytest

    from vtk_reserves_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=2)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="one dimension"):
        pq_train(ragged, m=2, k=2)


def test_scalar_quantization_roundtrip_error_bound(spark):
    import numpy as np

    from vtk_reserves_spark.operators.similarity import (
        sq_decode, sq_encode, sq_stats,
    )

    rng = np.random.default_rng(2)
    data = rng.normal(size=(50, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    stats = sq_stats(df)
    assert len(stats) == 8 and all(mn < mx for mn, mx in stats)
    out = sq_decode(
        sq_encode(df, stats), stats, out_col="recon"
    ).toPandas().sort_values("vec_id")
    codes = np.stack(out["codes"].to_numpy())
    assert codes.min() >= 0 and codes.max() <= 255
    # every dimension uses the full range at its extremes
    assert (codes.min(axis=0) == 0).all()
    assert (codes.max(axis=0) == 255).all()
    recon = np.stack(out["recon"].to_numpy())
    steps = np.array([(mx - mn) / 255.0 for mn, mx in stats])
    assert (np.abs(recon - data) <= steps / 2 + 1e-12).all()


def test_scalar_quantization_constant_dim(spark):
    from vtk_reserves_spark.operators.similarity import (
        sq_decode, sq_encode, sq_stats,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    stats = sq_stats(df)
    out = sq_decode(
        sq_encode(df, stats), stats, out_col="r"
    ).orderBy("vec_id").collect()
    # a constant dimension encodes to 0 and reconstructs exactly
    assert out[0]["codes"][1] == 0 and out[0]["r"][1] == 5.0
    assert out[0]["codes"][0] == 0 and out[1]["codes"][0] == 255


def test_ivfpq_degenerate_exact_and_recall(spark):
    import numpy as np

    from vtk_reserves_spark.operators.similarity import ivfpq_topk

    # 40 % 4 == 0 -> the single coarse centroid is exactly 1.5 per
    # dim; residuals take 4 exact values, so IVFADC == brute force
    d, kk = 8, 4
    rows = [(i, [float((i + j) % kk) for j in range(d)])
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, [0.0] * d)], "query_id bigint, embedding array<double>"
    )
    top = ivfpq_topk(df, q, k=3, n_centroids=1, n_probe=1, m=d,
                     pq_k=4, n_iter=1).orderBy("rank").collect()
    assert [r["vec_id"] for r in top] == [0, 1, 2]
    assert all(r["d2"] == 28.0 for r in top)
    # real vectors: probing 2 of 4 lists still finds the vector
    # itself and a sane share of true neighbors
    rng = np.random.default_rng(9)
    data = rng.normal(size=(120, 16))
    df2 = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(120)],
        "vec_id bigint, embedding array<double>",
    )
    q2 = spark.createDataFrame(
        [(0, [float(x) for x in data[11]])],
        "query_id bigint, embedding array<double>",
    )
    t2 = ivfpq_topk(df2, q2, k=10, n_centroids=4, n_probe=2,
                    m=4, pq_k=16, n_iter=2).toPandas()
    exact = set(np.argsort(((data - data[11]) ** 2).sum(1))[:10]
                .tolist())
    assert 11 in set(t2["vec_id"])
    assert len(set(t2["vec_id"]) & exact) >= 3


# ------------------------------------------------------------------ DSIR


def test_dsir_selects_target_like_documents(spark):
    """Importance resampling prefers documents that look like the
    target: with a target of 'alpha'-heavy docs, the alpha half of
    the raw corpus dominates the selection."""
    from vtk_reserves_spark.operators.dsir import (
        dsir_resample, dsir_weights,
    )

    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, "alpha beta alpha gamma alpha beta"))
        else:
            rows.append((i, "delta epsilon zeta delta eta theta"))
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + j, "alpha beta alpha alpha") for j in range(10)],
        "doc_id long, text string",
    )
    w = dsir_weights(raw, target, n_buckets=64).toPandas()
    evens = w[w["doc_id"] % 2 == 0]["log_w"].mean()
    odds = w[w["doc_id"] % 2 == 1]["log_w"].mean()
    assert evens > odds
    top = dsir_resample(
        raw, target, k=10, n_buckets=64, gumbel=False
    ).toPandas()
    assert (top["doc_id"] % 2 == 0).all()
    assert list(top["rank"]) == list(range(1, 11))
    # gumbel draw is deterministic: same seed -> same selection
    g1 = dsir_resample(raw, target, k=10, n_buckets=64).toPandas()
    g2 = dsir_resample(raw, target, k=10, n_buckets=64).toPandas()
    assert list(g1["doc_id"]) == list(g2["doc_id"])
    # ...and still favors the target-like half
    assert (g1["doc_id"] % 2 == 0).mean() >= 0.7


def test_dsir_tokenless_docs_weight_zero(spark):
    from vtk_reserves_spark.operators.dsir import dsir_weights

    raw = spark.createDataFrame(
        [(0, "alpha beta"), (1, "   "), (2, None)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(9, "alpha")], "doc_id long, text string"
    )
    w = {r["doc_id"]: r["log_w"]
         for r in dsir_weights(raw, target, n_buckets=16).collect()}
    assert w[1] == 0.0 and w[2] == 0.0 and w[0] != 0.0
