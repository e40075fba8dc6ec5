"""Training-data pipeline operators, cross-checked against DuckDB oracles
and pure-Python reimplementations on the driver-generated sf0.001 tables."""

import hashlib
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    return con


def _tokens(text):
    return [t for t in text.lower().split() if t]


def _hash64(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def _hash64_hi(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[15:30], 16)


def _simhash64(toks):
    """Pure-Python model of pipeline.dedup.simhash_signatures: 64-bit, bits
    0-59 from _hash64, 60-63 from _hash64_hi, bit 63 = two's-complement sign."""
    from webcrawler_spark.pipeline.dedup import SIMHASH_BITS, SIMHASH_LO_BITS

    sig = 0
    for j in range(SIMHASH_BITS):
        s = sum(
            1
            if (
                (_hash64(t) >> j) & 1
                if j < SIMHASH_LO_BITS
                else (_hash64_hi(t) >> (j - SIMHASH_LO_BITS)) & 1
            )
            else -1
            for t in toks
        )
        if s > 0:
            sig |= 1 << j
    return sig - (1 << 64) if sig >= (1 << 63) else sig


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------

def test_token_stats_matches_python(docs):
    from webcrawler_spark.pipeline.textstats import with_token_stats

    rows = with_token_stats(docs).select("doc_id", "text", "n_tokens", "avg_token_len").collect()
    assert rows
    for r in rows[:50]:
        toks = _tokens(r["text"])
        assert r["n_tokens"] == len(toks)
        raw = sum(map(len, toks)) / max(len(toks), 1)
        expect = float(Decimal(repr(raw)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
        assert abs(r["avg_token_len"] - expect) < 1e-9


def test_quality_scores_bounded(docs):
    from webcrawler_spark.pipeline.textstats import with_quality

    rows = with_quality(docs).select("quality_score", "stopword_ratio", "punct_ratio").collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_lang_id_deterministic(docs):
    from webcrawler_spark.pipeline.textstats import with_lang_id

    a = with_lang_id(docs).select("doc_id", "pred_lang").collect()
    b = with_lang_id(docs).select("doc_id", "pred_lang").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    langs = {r["pred_lang"] for r in a}
    assert langs <= set(["en", "de", "fr", "es", "zh", "und"])


def test_fingerprint_exact_matches_sha(docs):
    from webcrawler_spark.pipeline.textstats import with_fingerprint

    rows = with_fingerprint(docs).select("text", "exact_fp").limit(20).collect()
    for r in rows:
        assert r["exact_fp"] == hashlib.sha256(r["text"].encode()).hexdigest()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_duplicates_oracle(spark, docs, ddb):
    from webcrawler_spark.pipeline.dedup import exact_duplicates

    got = {
        (r["text_hash"], r["n_dups"], r["keep_id"])
        for r in exact_duplicates(docs).collect()
    }
    want = {
        tuple(r)
        for r in ddb.execute(
            """
            select sha256(text) as h, count(*) as n, min(doc_id) as k
            from documents group by sha256(text) having count(*) > 1
            """
        ).fetchall()
    }
    assert got == want


def test_minhash_signature_matches_python(spark, docs):
    from webcrawler_spark.pipeline.dedup import minhash_signatures

    rows = minhash_signatures(docs, n_hashes=4).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in rows[:20]:
        toks = _tokens(texts[r["doc_id"]])
        if len(toks) >= 3:
            sh = list(dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            ))
        else:
            sh = [" ".join(toks)]
        for i in range(4):
            expect = min(
                hashlib.sha256(f"{i}:{s}".encode()).hexdigest() for s in sh
            )
            assert r[f"mh_{i}"] == expect


def test_minhash_lsh_finds_planted_dup(spark):
    from webcrawler_spark.pipeline.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base + " tail"),             # near-dup of 1
        (3, "completely different words about spark shuffle partitions here"),
        (4, base),                        # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 4) in pairs
    assert (1, 2) in pairs or (2, 4) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_signature_matches_python(spark):
    from webcrawler_spark.pipeline.dedup import simhash_signatures

    rows = [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}

    for doc_id, text in rows:
        assert got[doc_id] == _simhash64(_tokens(text))


def test_simhash_signature_negative_sign_bit(spark):
    """A signature with bit 63 set must come out as the exact negative int64
    (two's complement) — probing the sign-bit assembly both engines share."""
    from webcrawler_spark.pipeline.dedup import simhash_signatures

    # single-token docs: signature == the token's (h | h2<<60) pattern, so
    # search a few tokens for one whose bit 63 is set
    tok = next(
        t
        for t in (f"tok{i}" for i in range(64))
        if (_hash64_hi(t) >> 3) & 1
    )
    df = spark.createDataFrame([(1, tok)], ["doc_id", "text"])
    got = simhash_signatures(df).collect()[0]["simhash"]
    assert got < 0
    assert got == _simhash64([tok])


def test_simhash_pairs_near_dup(spark):
    from webcrawler_spark.pipeline.dedup import simhash_pairs

    base = (
        "spark shuffle partition broadcast join window aggregate filter scan "
        "column table schema parquet arrow batch vector codegen catalyst tungsten "
        "executor driver task stage lineage checkpoint frontier crawl queue bloom "
        "politeness robots priority salt skew merge append snapshot manifest "
        "token corpus text dedup jaccard cosine embedding centroid probe recall"
    )
    doubled = f"{base} {base}"
    rows = [
        (1, doubled),
        # 1 of 92 token occurrences differs → hamming 4, sharing ≥1 band
        (2, doubled.replace("cosine", "fox", 1)),
        (3, "zzz yyy xxx www vvv uuu ttt sss rrr qqq"),  # unrelated
    ]
    sig = {i: _simhash64(_tokens(t)) for i, t in rows}
    ham12 = bin((sig[1] ^ sig[2]) & ((1 << 64) - 1)).count("1")
    ham13 = bin((sig[1] ^ sig[3]) & ((1 << 64) - 1)).count("1")
    assert ham12 < ham13  # the near-dup really is nearer under the model
    # the pair must share a 16-bit band, else blocking can't surface it
    assert any(
        ((sig[1] >> (k * 16)) & 0xFFFF) == ((sig[2] >> (k * 16)) & 0xFFFF)
        for k in range(4)
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=ham12).collect()
    }
    assert pairs.get((1, 2)) == ham12
    assert all(3 not in p for p in pairs)


def test_simhash_block_cap_drops_hot_block(spark):
    """A planted pathological cluster (many identical docs → one block holds
    them all in every band) must be DROPPED by max_block instead of exploding
    into O(k²) pairs, and must show up in simhash_dropped_blocks."""
    from webcrawler_spark.pipeline.dedup import (
        simhash_dropped_blocks,
        simhash_pairs,
    )

    hot = [(i, "identical boilerplate page body text here") for i in range(50)]
    base = (
        "spark shuffle partition broadcast join window aggregate filter scan "
        "column table schema parquet arrow batch vector codegen catalyst tungsten "
        "executor driver task stage lineage checkpoint frontier crawl queue bloom"
    )
    doubled = f"{base} {base}"
    near = [(100, doubled), (101, doubled.replace("bloom", "fox", 1))]
    sig = {i: _simhash64(_tokens(t)) for i, t in near}
    assert any(  # the organic near-dup must share a band to be findable
        ((sig[100] >> (k * 16)) & 0xFFFF) == ((sig[101] >> (k * 16)) & 0xFFFF)
        for k in range(4)
    )
    df = spark.createDataFrame(hot + near, ["doc_id", "text"])
    pairs = {
        (r["a"], r["b"])
        for r in simhash_pairs(df, max_hamming=30, max_block=10).collect()
    }
    # no pair from the capped hot cluster; the organic near-dup survives
    assert all(a >= 100 and b >= 100 for a, b in pairs)
    assert (100, 101) in pairs
    dropped = simhash_dropped_blocks(df, max_block=10).collect()
    assert dropped and all(r["n_ids"] == 50 for r in dropped)
    # uncapped, the same cluster yields 50*49/2 pairs per its block
    full = simhash_pairs(df, max_hamming=0, max_block=2000)
    assert full.filter((F.col("a") < 100) & (F.col("b") < 100)).count() == 50 * 49 // 2


def test_ngram_jaccard_oracle(spark, docs, ddb):
    from webcrawler_spark.pipeline.dedup import ngram_jaccard_pairs

    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df=None).collect()
    }
    want = {
        tuple(r)
        for r in ddb.execute(
            """
            with toks as (
              select doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') as tk
              from documents
            ), sh as (
              select doc_id, unnest(list_distinct(case when len(tk) >= 3
                then list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                else [list_aggregate(tk, 'string_agg', ' ')] end)) as s
              from toks
            ), sizes as (
              select doc_id, count(*) as sz from sh group by doc_id
            ), inter as (
              select l.doc_id as a, r.doc_id as b, count(*) as i
              from sh l join sh r on l.s = r.s and l.doc_id < r.doc_id
              group by 1, 2
            )
            select a, b, round(i::double / (sa.sz + sb.sz - i), 4) as jaccard
            from inter join sizes sa on sa.doc_id = a join sizes sb on sb.doc_id = b
            where round(i::double / (sa.sz + sb.sz - i), 4) >= 0.3
            """
        ).fetchall()
    }
    assert got == want


def test_embedding_near_dupes_planted(spark):
    from webcrawler_spark.pipeline.dedup import embedding_near_dupes

    v = [float(i % 7 - 3) for i in range(64)]
    v2 = list(v)
    v2[0] += 0.01
    w = [float((i * 13) % 11 - 5) for i in range(64)]
    df = spark.createDataFrame([(1, v), (2, v2), (3, w)], ["vec_id", "embedding"])
    pairs = {(r["a"], r["b"]) for r in embedding_near_dupes(df, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_embedding_bucket_cap_drops_hot_bucket(spark):
    """A degenerate cluster of identical vectors (all in one sketch bucket)
    is dropped by max_bucket instead of going quadratic, and is reported by
    embedding_dropped_buckets; an organic near-dup pair elsewhere survives."""
    from webcrawler_spark.pipeline.dedup import (
        embedding_dropped_buckets,
        embedding_near_dupes,
    )

    hot_vec = [float((i * 7) % 13 - 6) for i in range(64)]
    v = [float(i % 7 - 3) for i in range(64)]
    v2 = list(v)
    v2[0] += 0.01
    rows = [(i, hot_vec) for i in range(50)] + [(100, v), (101, v2)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dupes(df, threshold=0.99, max_bucket=10).collect()
    }
    assert (100, 101) in pairs
    assert all(a >= 100 and b >= 100 for a, b in pairs)
    dropped = embedding_dropped_buckets(df, max_bucket=10).collect()
    assert dropped and all(r["n_ids"] == 50 for r in dropped)


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_cosine_topk_oracle(spark, emb, ddb):
    from webcrawler_spark.pipeline.similarity import cosine_topk

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {
        (r["q_id"], r["neighbor_id"], r["cos"], r["rnk"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    want = {
        tuple(r)
        for r in ddb.execute(
            """
            with v as (select vec_id, list_transform(embedding, x -> x::double) as e from embeddings),
            q as (select vec_id as q_id, e as qe from v where vec_id < 3),
            scored as (
              select q.q_id, v.vec_id as neighbor_id,
                round(list_dot_product(v.e, q.qe) /
                      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 4) as cos
              from v cross join q where v.vec_id != q.q_id
            )
            select q_id, neighbor_id, cos, rnk from (
              select *, row_number() over (partition by q_id order by cos desc, neighbor_id) as rnk
              from scored
            ) where rnk <= 5
            """
        ).fetchall()
    }
    assert got == want


def test_ivf_recall_reasonable(spark, emb):
    from webcrawler_spark.pipeline.similarity import cosine_topk, ivf_topk

    centroids = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_topk(emb, centroids, queries, k=3, n_probe=3).collect()
    }
    # approximate: at least a third of exact neighbors recovered
    assert len(exact & approx) >= len(exact) // 3


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def blobs(spark, docs):
    return docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("blob"))


def test_media_meta(spark, blobs):
    from webcrawler_spark.pipeline.multimodal import with_media_meta

    rows = with_media_meta(blobs).select("doc_id", "byte_len", "blob_sha", "media_kind").collect()
    assert all(r["byte_len"] > 0 for r in rows)
    assert all(r["media_kind"] == "application/octet-stream" for r in rows)
    png = spark.createDataFrame([(1, bytearray(b"\x89PNG\r\n"))], ["doc_id", "blob"])
    assert with_media_meta(png).first()["media_kind"] == "image/png"


def test_decode_batch_matches_local_fake(spark, blobs):
    from webcrawler_spark.pipeline.multimodal import decode_batch, decode_image_fake

    got = {r["doc_id"]: (r["width"], r["height"], r["n_channels"])
           for r in decode_batch(blobs).collect()}
    local = {r["doc_id"]: decode_image_fake(bytes(r["blob"]))
             for r in blobs.collect()}
    assert got == local


def test_frame_sample_shape(spark, blobs):
    from webcrawler_spark.pipeline.multimodal import frame_sample

    one = blobs.limit(2)
    out = frame_sample(one, every_n=25, n_frames_total=100).collect()
    assert len(out) == 2 * 4
    assert sorted({r["frame_idx"] for r in out}) == [0, 25, 50, 75]


def test_ivf_partitioned_write_prunes_input_files(spark, emb, tmp_path):
    """The IVF scale path (similarity.py design note): assign_centroids output
    written dir-partitioned by centroid_id gives partition pruning on the
    probed read — the scan touches ONLY the probed buckets' files."""
    from pyspark.sql import functions as F

    from webcrawler_spark.pipeline.similarity import assign_centroids, assign_probes

    centroids = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    out = str(tmp_path / "ivf_corpus")
    assigned = assign_centroids(emb, centroids).select("vec_id", "centroid_id")
    bucketed = emb.join(assigned, "vec_id")
    bucketed.write.partitionBy("centroid_id").mode("overwrite").parquet(out)

    table = spark.read.parquet(out)
    all_files = set(table.inputFiles())
    n_buckets = centroids.count()
    assert len(all_files) >= n_buckets  # one dir (>=1 file) per centroid

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    probes = assign_probes(queries, centroids, n_probe=2)
    probe_ids = [r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()]
    pruned = table.filter(F.col("centroid_id").isin(probe_ids))
    # the files the pruned scan ACTUALLY reads (input_file_name() evaluates
    # inside the scan, after partition pruning — unlike inputFiles(), which
    # reports the unpruned relation)
    pruned_files = {
        r["f"] for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert pruned_files < all_files
    assert len(pruned_files) <= len(probe_ids) * max(
        1, len(all_files) // n_buckets + 1
    )
    # and the plan carries the partition filter (not a post-scan filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


# ---------------------------------------------------------------------------
# connected components (near-dup clusters)
# ---------------------------------------------------------------------------


def test_connected_components_path_clique_pair(spark):
    """Transitive closure on a diameter-9 path, a 3-clique and a disjoint
    pair — the three shapes a near-dup pair graph produces."""
    from webcrawler_spark.pipeline.dedup import connected_components

    edges = [(i, i + 1) for i in range(1, 10)] + [
        (100, 101), (100, 102), (101, 102), (200, 201),
    ]
    out = {
        r["id"]: r["cluster"]
        for r in connected_components(
            spark.createDataFrame(edges, "a long, b long")
        ).collect()
    }
    assert all(out[i] == 1 for i in range(1, 11))
    assert all(out[i] == 100 for i in (100, 101, 102))
    assert out[200] == out[201] == 200


def test_connected_components_logarithmic_rounds(spark):
    """Large-star/small-star must close a 64-node path well inside the
    O(log n) bound — the reason it's used over diameter-bound min-flooding."""
    from webcrawler_spark.pipeline.dedup import connected_components

    edges = [(i, i + 1) for i in range(64)]
    out = connected_components(
        spark.createDataFrame(edges, "a long, b long"), max_iters=10
    ).collect()
    assert len(out) == 65
    assert {r["cluster"] for r in out} == {0}


def test_connected_components_empty(spark):
    from webcrawler_spark.pipeline.dedup import connected_components

    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0


def test_dedup_clusters_merges_planted_triple(spark):
    """Three byte-identical docs (one original + two clones) must land in ONE
    cluster of 3 with the min id kept — pairs alone would report two rows."""
    from webcrawler_spark.pipeline.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base), (1000001, base), (2000001, base),
        (7, "completely different content with no shared shingles at all ok"),
    ]
    out = dedup_clusters(
        spark.createDataFrame(rows, "doc_id long, text string"),
        n_hashes=4, bands=2,
    ).collect()
    got = {(r["doc_id"], r["cluster"], r["cluster_size"], r["keep"]) for r in out}
    assert got == {
        (1, 1, 3, True), (1000001, 1, 3, False), (2000001, 1, 3, False),
    }


# ---------------------------------------------------------------------------
# deterministic sampling / splits (pipeline/sampling.py)
# ---------------------------------------------------------------------------


def test_split_deterministic_partition_invariant(spark, docs):
    """Split membership is a pure function of the key: identical assignment
    under different partitionings (the property rand()/df.sample() lack)."""
    from webcrawler_spark.pipeline.sampling import assign_split

    key = F.col("doc_id").cast("string")
    a = docs.repartition(3).select("doc_id", assign_split(key).alias("s"))
    b = docs.repartition(17, "lang").select("doc_id", assign_split(key).alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # exhaustive + exclusive: one label per doc
    n = docs.count()
    assert a.count() == n
    labels = {r["s"] for r in a.select("s").distinct().collect()}
    assert labels <= {"train", "valid", "test"}


def test_split_fractions_near_nominal(docs):
    """90/5/5 within a loose tolerance (hash uniformity, 500 docs)."""
    from webcrawler_spark.pipeline.sampling import assign_split

    counts = dict(
        docs.groupBy(assign_split(F.col("doc_id").cast("string")).alias("s"))
        .count()
        .rdd.map(lambda r: (r["s"], r["count"]))
        .collect()
    )
    n = sum(counts.values())
    assert counts["train"] / n == pytest.approx(0.9, abs=0.05)
    assert (counts.get("valid", 0) + counts.get("test", 0)) / n == pytest.approx(
        0.1, abs=0.05
    )


def test_sample_by_hash_is_subset_and_stable(spark, docs, ddb):
    """The 10% hash sample: exact same membership as the DuckDB twin
    (portable sha256 bucket), and a strict subset of the input."""
    from webcrawler_spark.pipeline.sampling import sample_by_hash

    got = sorted(
        r["doc_id"]
        for r in sample_by_hash(docs, F.col("doc_id").cast("string"), 100)
        .select("doc_id")
        .collect()
    )
    exp = [
        r[0]
        for r in ddb.execute(
            "select doc_id from documents "
            "where (('0x' || substr(sha256(doc_id::varchar), 1, 15))::bigint) % 1000 < 100 "
            "order by doc_id"
        ).fetchall()
    ]
    assert got == exp and 0 < len(got) < docs.count()


def test_vocab_topk_counts_and_tiebreak(docs, ddb):
    from webcrawler_spark.pipeline.sampling import vocab_topk

    got = [(r["tok"], r["n"]) for r in vocab_topk(docs, "text", k=10).collect()]
    exp = ddb.execute(
        "select t as tok, count(*) as n from documents, "
        "unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) as u(t) "
        "group by 1 order by n desc, tok limit 10"
    ).fetchall()
    assert got == [(t, n) for t, n in exp]


def test_pagerank_hand_golden_and_mass_conservation(spark):
    """3-node chain a->b->c, one iteration, damping 0.85, hand-computed:
    dangling c redistributes 1/3 uniformly; total mass stays 1."""
    from webcrawler_spark.pipeline.graph import pagerank

    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    pr = {r["node"]: r["pr"] for r in pagerank(e, n_iters=1).collect()}
    third, ninth = 1 / 3, 1 / 9
    assert pr["a"] == pytest.approx(0.05 + 0.85 * ninth)
    assert pr["b"] == pytest.approx(0.05 + 0.85 * (third + ninth))
    assert pr["c"] == pytest.approx(0.05 + 0.85 * (third + ninth))
    assert sum(pr.values()) == pytest.approx(1.0)
    # more iterations keep total mass at 1 (damping + dangling bookkeeping)
    pr3 = pagerank(e, n_iters=3).agg(F.sum("pr")).collect()[0][0]
    assert pr3 == pytest.approx(1.0)
    # self-loops and duplicate edges are ignored
    e2 = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "b"), ("b", "c")], "src string, dst string"
    )
    pr_dup = {r["node"]: r["pr"] for r in pagerank(e2, n_iters=1).collect()}
    assert pr_dup == pytest.approx(pr)


def test_resize_plan_geometry(spark):
    from webcrawler_spark.pipeline.multimodal import resize_plan

    df = spark.createDataFrame(
        [(1, 448, 224), (2, 100, 200), (3, 1, 3000)], "id long, width int, height int"
    )
    got = {r["id"]: (r["out_w"], r["out_h"]) for r in resize_plan(df, 224, 224).collect()}
    assert got[1] == (224, 112)   # wide: width binds, aspect preserved
    assert got[2] == (112, 224)   # tall: height binds (upscales allowed)
    assert got[3] == (1, 224)     # extreme aspect: clamp keeps dims >= 1


def test_feature_extract_feeds_similarity(spark):
    """The fake feature extractor's output plugs straight into the exact
    cosine top-k: identical payloads must be each other's top hit at cos=1."""
    from webcrawler_spark.pipeline.multimodal import feature_extract_batch
    from webcrawler_spark.pipeline.similarity import cosine_topk

    rows = [(1, b"same"), (2, b"same"), (3, b"other")]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    feats = feature_extract_batch(df)
    assert feats.select(F.size("features")).distinct().collect()[0][0] == 16
    top = cosine_topk(
        feats,
        feats.filter(F.col("doc_id") == 1).select(
            F.col("doc_id").alias("q_id"), F.col("features").alias("q_vec")
        ),
        id_col="doc_id", vec_col="features", k=2,
    ).collect()
    best = next(r for r in top if r["rnk"] == 1)
    # doc 2 (identical payload) is doc 1's top hit at cosine 1
    assert best["neighbor_id"] == 2 and best["cos"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# shard packing / mixture sampling / decontamination (pipeline/sampling,
# pipeline/decontam)
# ---------------------------------------------------------------------------

def test_pack_shards_matches_sequential_packer(docs):
    """The distributed two-level prefix sum must equal the greedy sequential
    packer run over the same deterministic (bucket, key) order."""
    from webcrawler_spark.pipeline.sampling import pack_shards

    got = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(
            docs, key="doc_id", weight="n_chars", target_weight=10_000
        ).collect()
    }
    rows = docs.select("doc_id", "n_chars").collect()
    ordered = sorted(rows, key=lambda r: (_hash64(str(r["doc_id"])) % 256, r["doc_id"]))
    cum = 0
    for r in ordered:
        assert got[r["doc_id"]] == cum // 10_000
        cum += r["n_chars"]
    # every row assigned, schema preserved + shard_id
    assert len(got) == len(rows)


def test_pack_shards_shard_sizes_near_target(docs):
    """Every shard except the last lands within one max-doc of the target:
    a boundary doc can spill out of the previous shard (undershoot) or into
    the next one (overshoot), but never by more than one document."""
    from webcrawler_spark.pipeline.sampling import pack_shards

    max_doc = docs.agg(F.max("n_chars")).collect()[0][0]
    per = (
        pack_shards(docs, key="doc_id", weight="n_chars", target_weight=10_000)
        .groupBy("shard_id").agg(F.sum("n_chars").alias("w"))
        .collect()
    )
    last = max(r["shard_id"] for r in per)
    for r in per:
        if r["shard_id"] != last:
            assert 10_000 - max_doc < r["w"] < 10_000 + max_doc


def test_mixture_rates_and_membership(docs):
    from webcrawler_spark.pipeline.sampling import mixture_rates, mixture_sample

    w = {"src0": 600, "src1": 400}
    budget = 5_000
    avail = {
        r["source"]: r["s"]
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("s")).collect()
    }
    rates = {
        r["source"]: r["rate_pm"]
        for r in mixture_rates(docs, "source", "n_chars", w, budget).collect()
    }
    assert set(rates) == set(w)  # unweighted domains excluded
    for s, wpm in w.items():
        assert rates[s] == min(1000, (budget * wpm) // avail[s])

    kept = mixture_sample(
        docs, key="doc_id", domain="source", weight="n_chars",
        weights_pm=w, budget=budget,
    ).collect()
    assert kept  # non-vacuous at sf0.001
    for r in kept:
        assert r["source"] in w
        assert _hash64(str(r["doc_id"])) % 1000 < rates[r["source"]]


def test_mixture_rate_caps_at_1000(docs):
    """A budget larger than availability keeps everything (rate capped)."""
    from webcrawler_spark.pipeline.sampling import mixture_rates

    r = mixture_rates(docs, "source", "n_chars", {"src0": 1000}, 10**9).collect()
    assert len(r) == 1 and r[0]["rate_pm"] == 1000


def test_decontaminate_flags_planted_and_skips_short(spark):
    from webcrawler_spark.pipeline.decontam import contaminated_docs

    eight = "alpha beta gamma delta epsilon zeta eta theta"
    eval_df = spark.createDataFrame(
        [(100, f"intro words {eight} trailing tail")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, f"prefix {eight} suffix"),          # shares the 8-gram -> flagged
            (2, "alpha beta gamma delta"),           # <8 tokens -> never flagged
            (3, "completely unrelated text with eight tokens here total"),
            (4, f"{eight}"),                         # exactly the 8-gram -> flagged
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in contaminated_docs(train, eval_df).collect()
    )
    assert got == [1, 4]


def test_decontaminate_case_and_whitespace_normalized(spark):
    from webcrawler_spark.pipeline.decontam import contaminated_docs

    eval_df = spark.createDataFrame(
        [(1, "A B C D E F G H")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [(2, "x  a\tb c d e F g h  y")], "doc_id long, text string"
    )
    assert [r["doc_id"] for r in contaminated_docs(train, eval_df).collect()] == [2]


def test_eval_containment_thresholds(spark):
    """Containment pm is exact integer math on distinct-gram sets; the
    eval-doc denominator makes the score asymmetric, and tau cuts pairs
    below threshold (decontam.eval_containment)."""
    from webcrawler_spark.pipeline.decontam import eval_containment

    toks = [f"w{i}" for i in range(27)]   # 27 tokens -> 20 distinct 8-grams
    eval_df = spark.createDataFrame(
        [(100, " ".join(toks))], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # full copy inside a longer doc: all 20 grams -> 1_000_000 pm
            (1, "pad1 pad2 " + " ".join(toks) + " pad3"),
            # first 15 tokens -> 8 of 20 grams -> 400_000 pm
            (2, " ".join(toks[:15])),
            # first 10 tokens -> 3 of 20 grams -> 150_000 pm (below tau)
            (3, " ".join(toks[:10])),
            # no overlap
            (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),
        ],
        "doc_id long, text string",
    )
    out = eval_containment(train, eval_df, tau_pm=300_000)
    got = {r.doc_id: (r.hit_grams, r.eval_grams, r.containment_pm)
           for r in out.collect()}
    assert got == {1: (20, 20, 1_000_000), 2: (8, 20, 400_000)}
    # lowering tau surfaces the partial copy with its exact score
    low = {r.doc_id: r.containment_pm
           for r in eval_containment(train, eval_df, tau_pm=1).collect()}
    assert low == {1: 1_000_000, 2: 400_000, 3: 150_000}


def test_gopher_flags_each_rule(spark):
    from webcrawler_spark.pipeline.textstats import with_gopher_flags

    good = "the quick brown fox and that dog have gone with all of them " * 5
    rows = [
        (1, good),                                   # passes everything
        (2, "the of and that have be"),              # too few words
        (3, good + " ##########" * 20),              # symbol ratio blown
        (4, ("1 2 3 4 5 6 7 8 9 0 " * 6) + "the of"),  # alpha-word share low
        (5, "zebra quark " * 30),                    # no stopword hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in with_gopher_flags(df, min_words=20).collect()
    }
    assert got[1]["keep"]
    assert not got[2]["ok_word_count"] and not got[2]["keep"]
    assert not got[3]["ok_symbol_ratio"] and not got[3]["keep"]
    assert not got[4]["ok_alpha_words"] and not got[4]["keep"]
    assert not got[5]["ok_stopwords"] and not got[5]["keep"]


def test_gopher_mean_word_length_bounds(spark):
    from webcrawler_spark.pipeline.textstats import with_gopher_flags

    df = spark.createDataFrame(
        [
            (1, "a b c d e " * 10),                       # mean len 1 -> too short
            (2, ("pneumonoultramicroscopics " * 25)),     # mean len 25 -> too long
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in with_gopher_flags(df, min_words=5).collect()}
    assert not got[1]["ok_mean_len"] and not got[2]["ok_mean_len"]


def test_unigram_logprob_matches_python(docs):
    import math

    from webcrawler_spark.pipeline.textstats import unigram_logprob

    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    rows = docs.select("doc_id", "text").collect()
    counts: dict = {}
    for r in rows:
        for t in _tokens(r["text"]):
            counts[t] = counts.get(t, 0) + 1
    n = float(sum(counts.values()))
    for r in rows[:50]:
        toks = _tokens(r["text"])
        want = sum(math.log(counts[t] / n) for t in toks) / len(toks)
        assert got[r["doc_id"]]["n_toks"] == len(toks)
        assert got[r["doc_id"]]["avg_logp"] == pytest.approx(round(want, 4), abs=1e-4)


def test_dup_span_stats_planted(spark):
    from webcrawler_spark.pipeline.dedup import dup_span_stats

    long_a = " ".join(f"w{i}" for i in range(30))          # 30 tokens
    long_b = " ".join(f"x{i}" for i in range(30))
    short = "only five little tokens here"
    df = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_b), (4, short)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_span_stats(df).collect()}
    assert set(got) == {1, 2, 3}          # <16-token doc has no grams
    assert got[1]["n_grams"] == 15        # 30 - 16 + 1 distinct grams
    assert got[1]["dup_ratio"] == 1.0 and got[2]["dup_ratio"] == 1.0
    assert got[3]["dup_ratio"] == 0.0


def test_dup_span_stats_partial_overlap(spark):
    from webcrawler_spark.pipeline.dedup import dup_span_stats

    head = " ".join(f"w{i}" for i in range(20))            # shared 20-token head
    df = spark.createDataFrame(
        [(1, head + " unique tail one two three four five six"),
         (2, head + " other ending seven eight nine ten eleven twelve")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_span_stats(df).collect()}
    # shared head contributes exactly 5 common 16-grams (positions 1..5)
    assert got[1]["n_dup_grams"] == 5 and got[2]["n_dup_grams"] == 5
    assert 0.0 < got[1]["dup_ratio"] < 1.0


def test_frontier_pr_admission_contract(spark):
    """The PR-prioritized admission keeps: (a) <=8 urls per host, (b) exactly
    the global 200 budget, (c) a (prio, rank)-prefix — nothing admitted sorts
    after anything the global cut rejected, (d) per-host FIFO order survives
    the cut (each host's kept set is a prefix of its per-host admission)."""
    import __spark_entry__ as entry

    took = entry.q_frontier_pr_admission(spark, SF_DIR).collect()
    assert len(took) == 200
    from collections import Counter

    per_host = Counter(r["host"] for r in took)
    assert max(per_host.values()) <= 8

    # recompute the full per-host-admitted set to check the prefix property
    urls = entry._urls(spark, SF_DIR).collect()
    ranks = {r["url"]: r["rank"] for r in urls}
    prio = {r["url"]: r["prio"] for r in took}
    boundary = max((prio[r["url"]], ranks[r["url"]]) for r in took)
    from webcrawler_spark.operators.admission import admit

    u = entry._urls(spark, SF_DIR)
    admitted, _ = admit(u, per_host_budget=8, order_cols=("warc_ts", "rank"),
                        host_col="host")
    taken_urls = {r["url"] for r in took}
    # every per-host-admitted url not taken must sort after the boundary.
    # prio isn't defined for untaken urls here, but rank alone suffices when
    # the boundary prio is the max prio (2 at sf0.001/0.01): any untaken url
    # with smaller (prio, rank) would contradict the oracle-matched cut, so
    # assert the weaker, computable form: untaken urls of hosts whose taken
    # rows hit the boundary prio all have rank > boundary rank.
    for r in admitted.collect():
        if r["url"] in taken_urls:
            continue
        host_taken = [t for t in took if t["host"] == r["host"]]
        if host_taken and all(t["prio"] == boundary[0] for t in host_taken):
            assert ranks[r["url"]] > min(ranks[t["url"]] for t in host_taken)


def test_embedding_dup_clusters_transitive_closure(spark):
    from webcrawler_spark.pipeline.dedup import embedding_dup_clusters

    v = [0.5] * 8
    w = [x * -1.0 for x in v]
    rows = [(1, v), (2, v), (3, v), (10, w), (11, w), (20, [1.0] + [0.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           embedding_dup_clusters(df, n_planes=8, dim=8).collect()}
    # identical triple forms ONE cluster of 3 with min-id keeper
    assert {got[i]["cluster"] for i in (1, 2, 3)} == {1}
    assert got[1]["cluster_size"] == 3 and got[1]["keep"]
    assert not got[2]["keep"] and not got[3]["keep"]
    # the opposite-sign pair clusters separately
    assert got[10]["cluster"] == got[11]["cluster"] == 10
    # the singleton never appears (no near-dup pair)
    assert 20 not in got


def test_quantile_buckets_matches_sequential_ntile(docs):
    """Histogram bucketing equals the sequential rank formulation
    bucket = (rows-strictly-before-my-bin * n) // total, bin-granular."""
    from webcrawler_spark.pipeline.sampling import quantile_buckets

    got = {
        r["doc_id"]: r["bucket"]
        for r in quantile_buckets(docs, F.col("n_chars"), n_buckets=10).collect()
    }
    rows = docs.select("doc_id", "n_chars").collect()
    total = len(rows)
    import collections
    binc = collections.Counter(r["n_chars"] for r in rows)
    cum, cum_before = 0, {}
    for b in sorted(binc):
        cum_before[b] = cum
        cum += binc[b]
    for r in rows:
        want = min(9, (cum_before[r["n_chars"]] * 10) // total)
        assert got[r["doc_id"]] == want
    # buckets are monotone in the binned value and roughly balanced
    assert min(got.values()) == 0 and max(got.values()) == 9


def test_pack_sequences_matches_sequential_stream(docs):
    """GPT-style concat-and-chunk packing: every doc's window span must equal
    the sequential token-stream walk over the same (bucket, key) order, and
    consecutive docs must tile the stream without gaps or overlap."""
    from webcrawler_spark.pipeline.sampling import pack_sequences

    L = 64
    d = docs.select("doc_id", (F.col("n_chars") % 97 + 1).alias("n_toks"))
    got = {
        r["doc_id"]: (
            r["tok_start"], r["first_seq"], r["last_seq"], r["n_seqs"],
            r["seq_offset"],
        )
        for r in pack_sequences(d, key="doc_id", n_tokens="n_toks", seq_len=L)
        .collect()
    }
    rows = d.collect()
    ordered = sorted(rows, key=lambda r: (_hash64(str(r["doc_id"])) % 256, r["doc_id"]))
    cum = 0
    for r in ordered:
        first, last = cum // L, (cum + r["n_toks"] - 1) // L
        assert got[r["doc_id"]] == (cum, first, last, last - first + 1, cum % L)
        cum += r["n_toks"]
    assert len(got) == len(rows)


def test_pack_sequences_drops_empty_docs(spark):
    from webcrawler_spark.pipeline.sampling import pack_sequences

    d = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, n_toks long"
    )
    got = pack_sequences(d, key="doc_id", n_tokens="n_toks", seq_len=8)
    assert {r["doc_id"] for r in got.collect()} == {1, 3}


def test_quantile_buckets_by_is_per_group(spark):
    """Group-wise tiers: each group's thresholds come from its own
    histogram — a value that is 'head' in a weak group may be 'tail' in a
    strong one (the CCNet per-language property a global binning loses)."""
    from webcrawler_spark.pipeline.sampling import quantile_buckets_by

    rows = [("a", i) for i in range(1, 10)] + [("b", i) for i in range(101, 110)]
    # one straggler: group b also holds a LOW value that group a would call
    # mid-tier; within b it must be bucket 0
    rows.append(("b", 5))
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        (r["grp"], r["v"]): r["bucket"]
        for r in quantile_buckets_by(df, "grp", F.col("v"), n_buckets=3).collect()
    }
    assert got[("b", 5)] == 0
    assert got[("a", 5)] == 1
    for g in ("a", "b"):
        bs = [b for (gg, _), b in got.items() if gg == g]
        assert min(bs) == 0 and max(bs) == 2


def test_temperature_rates_flattens_head(spark):
    """α=1/2 reweighting: shares ∝ isqrt(n). A 100:1 corpus imbalance
    becomes 10:1 in sampling shares; integer math throughout."""
    import math

    from webcrawler_spark.pipeline.sampling import temperature_rates

    df = spark.createDataFrame(
        [(i, "big" if i < 400 else "small") for i in range(404)],
        "doc_id long, source string",
    )
    got = {
        r["source"]: (r["n_docs"], r["score"], r["share_ppm"], r["take_n"])
        for r in temperature_rates(df, "source", budget=1000).collect()
    }
    assert got["big"][0] == 400 and got["small"][0] == 4
    assert got["big"][1] == 20 and got["small"][1] == 2  # isqrt
    assert got["big"][2] == (20 * 1_000_000) // 22
    assert got["small"][2] == (2 * 1_000_000) // 22
    assert got["big"][3] == (1000 * 20) // 22
    # raw share would be 400/404 = 99%; tempered is 20/22 = 90.9%
    assert got["big"][2] < 990_000


def test_canonicalize_tracking_edge_cases(spark):
    from webcrawler_spark.functions import canonicalize_tracking

    rows = [
        (1, "https://a.test/p"),                                   # no query
        (2, "https://a.test/p?utm_source=x&utm_medium=y"),         # all tracking
        (3, "https://a.test/p?b=2&a=1"),                           # sort only
        (4, "https://a.test/p?a=1&fbclid=zzz&b=2"),                # mixed
        (5, "https://a.test/p?a=1&a=0"),                           # dup keys kept, sorted
        (6, "https://a.test/p?"),                                  # empty query
        (7, "https://a.test/p?butm_source=1"),                     # prefix NOT anchored match
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r["id"]: r["canon"] for r in
           df.select("id", canonicalize_tracking(F.col("url")).alias("canon")).collect()}
    assert got[1] == "https://a.test/p"
    assert got[2] == "https://a.test/p"
    assert got[3] == "https://a.test/p?a=1&b=2"
    assert got[4] == "https://a.test/p?a=1&b=2"
    assert got[5] == "https://a.test/p?a=0&a=1"
    assert got[6] == "https://a.test/p"
    assert got[7] == "https://a.test/p?butm_source=1"


def test_mixture_epochs_over_demand(docs):
    """Budget above availability: rate caps at 1000 and epochs carries the
    repeat factor (ceil of target/available)."""
    from webcrawler_spark.pipeline.sampling import mixture_rates

    avail = {
        r["source"]: r["s"]
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("s")).collect()
    }
    budget = 50_000
    r = {
        x["source"]: x
        for x in mixture_rates(docs, "source", "n_chars",
                               {"src0": 900, "src1": 100}, budget).collect()
    }
    t0 = budget * 900 // 1000
    assert r["src0"]["rate_pm"] == 1000                       # over-demanded
    assert r["src0"]["epochs"] == -(-t0 // avail["src0"]) > 1
    assert r["src1"]["rate_pm"] < 1000 and r["src1"]["epochs"] == 1


def test_winnow_guarantee_shared_run(spark):
    """Winnowing guarantee: two docs sharing a token run of >= w+k-1 = 8
    tokens must share at least one fingerprint; unrelated docs share none."""
    from webcrawler_spark.pipeline.textstats import winnow_fingerprints

    shared = "q w e r t y u i"                      # 8 shared tokens
    rows = [
        (1, f"aa bb cc {shared} dd ee"),
        (2, f"xx {shared} yy zz qq"),
        (3, "totally different words and nothing else at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: set(r["winnow_fps"])
           for r in winnow_fingerprints(df, k=5, w=4).collect()}
    assert got[1] & got[2]
    assert not (got[1] & got[3]) and not (got[2] & got[3])


def test_winnow_short_doc_single_fingerprint(spark):
    from webcrawler_spark.pipeline.textstats import winnow_fingerprints

    df = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    r = winnow_fingerprints(df, k=5, w=4).collect()[0]
    assert len(r["winnow_fps"]) == 1                # whole-doc gram, one window


def test_short_docs_survive_shingle_ops_under_ansi(spark):
    """Regression: under ANSI mode (Spark 4 default) the old element_at
    shingle construction CRASHED the whole job on any doc with fewer than k
    tokens; short docs must flow through every shingle-based op and dedup by
    whole-doc shingle."""
    from webcrawler_spark.pipeline.dedup import minhash_lsh_pairs, minhash_signatures
    from webcrawler_spark.pipeline.textstats import with_fingerprint

    rows = [(1, "one"), (2, "one"), (3, "two words"), (4, ""), (5, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, n_hashes=4).collect()      # no raise
    assert len(sigs) == 5
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs                                    # whole-doc shingle dedups
    fps = with_fingerprint(df).select("doc_id", "rolling_fp").collect()
    assert len(fps) == 5


def test_bigram_logprob_matches_python(spark):
    import math

    from webcrawler_spark.pipeline.textstats import bigram_logprob

    rows = [(1, "a b a b"), (2, "a b c"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert 3 not in got                               # <2 tokens: no bigrams
    # corpus counts: tokens a:3 b:3 c:1 solo:1, N=8
    # bigrams: (a,b):2+1=3 (b,a):1 (b,c):1 ; ctx a:3 b:2
    N = 8.0
    def p(cb, cc, cu):
        return 0.9 * (cb / cc) + 0.1 * (cu / N)
    d1 = (math.log(p(3, 3, 3)) + math.log(p(1, 2, 3)) + math.log(p(3, 3, 3))) / 3
    assert got[1]["n_bigrams"] == 3
    assert got[1]["avg_logp"] == pytest.approx(round(d1, 4), abs=1e-4)
    d2 = (math.log(p(3, 3, 3)) + math.log(p(1, 2, 1))) / 2
    assert got[2]["avg_logp"] == pytest.approx(round(d2, 4), abs=1e-4)


def test_winnow_pairs_partial_overlap_and_cap(spark):
    from webcrawler_spark.pipeline.textstats import winnow_pairs

    head = " ".join(f"s{i}" for i in range(20))
    rows = [
        (1, head + " " + " ".join(f"u1x{i}" for i in range(20))),
        (2, head + " " + " ".join(f"u2x{i}" for i in range(20))),  # shares head with 1
        (3, " ".join(f"u3x{i}" for i in range(40))),               # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["a"], r["b"]): r["n_shared"] for r in winnow_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)
    # a df cap of 1 drops every shared fingerprint -> no pairs survive
    assert winnow_pairs(df, max_df=1).count() == 0


def test_chunk_docs_windows_and_coverage(spark):
    import hashlib

    from webcrawler_spark.pipeline.sampling import chunk_docs

    toks10 = [f"t{i}" for i in range(10)]
    rows = [
        (1, " ".join(toks10)),      # 10 tokens, chunk 4 stride 2 -> starts 1,3,5,7
        (2, "one two three"),       # shorter than chunk -> one whole-doc window
        (3, "  \n\t  "),            # zero tokens -> no rows
        (4, " ".join(f"u{i}" for i in range(9))),  # n=9: grid 1,3,5 + clipped 6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_docs(df, chunk_tokens=4, stride=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert 3 not in got
    d1 = sorted(got[1], key=lambda r: r["chunk_idx"])
    assert [r["start_tok"] for r in d1] == [1, 3, 5, 7]
    assert all(r["n_tokens"] == 4 for r in d1)
    # chunk text hash is sha256 of the space-joined window
    want = hashlib.sha256(" ".join(toks10[0:4]).encode()).hexdigest()
    assert d1[0]["chunk_hash"] == want
    # short doc: single clipped whole-doc window
    d2 = got[2]
    assert len(d2) == 1 and d2[0]["start_tok"] == 1 and d2[0]["n_tokens"] == 3
    # unaligned tail: final clipped window lands at n - chunk + 1 = 6
    d4 = sorted(got[4], key=lambda r: r["chunk_idx"])
    assert [r["start_tok"] for r in d4] == [1, 3, 5, 6]
    # every token covered: union of [s, s+4) spans 1..9
    covered = set()
    for r in d4:
        covered.update(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
    assert covered == set(range(1, 10))


def test_chunk_docs_rejects_bad_params(spark):
    from webcrawler_spark.pipeline.sampling import chunk_docs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_docs(df, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError):
        chunk_docs(df, chunk_tokens=0, stride=1)


def test_select_canonical_argmax_and_tiebreak(spark):
    from webcrawler_spark.pipeline.dedup import select_canonical

    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster long",
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)],
        "doc_id long, score long",
    )
    out = {r["doc_id"]: r for r in select_canonical(members, scores).collect()}
    # cluster 1: max score 9 shared by 2 and 3 -> min-id tie-break keeps 2
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[2]["cluster_size"] == 3
    # cluster 10: equal scores -> min id wins
    assert out[10]["keep"] and not out[11]["keep"]
    # exactly one keeper per cluster
    assert sum(1 for r in out.values() if r["keep"]) == 2


@pytest.mark.slow
def test_kmeans_fit_separates_planted_clusters(spark):
    from webcrawler_spark.pipeline.similarity import kmeans_fit

    # three well-separated directions in R^8, 20 noisy members each
    rows = []
    for c in range(3):
        for i in range(20):
            v = [0.0] * 8
            v[c] = 1.0
            v[(c + 3) % 8] = 0.01 * ((i * 7) % 5)  # deterministic jitter
            rows.append((20 * c + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, centroids = kmeans_fit(df, k=3, iters=2)
    got = assigned.collect()
    assert len(got) == 60 and centroids.count() == 3
    # each planted cluster lands wholly in one centroid bucket
    by_plant = {}
    for r in got:
        by_plant.setdefault(r["vec_id"] // 20, set()).add(r["centroid_id"])
    assert all(len(s) == 1 for s in by_plant.values())
    assert len(set.union(*by_plant.values())) == 3
    # more Lloyd rounds never hurt mean assignment quality
    a1, _ = kmeans_fit(df, k=3, iters=1)
    m1 = a1.agg(F.avg("cos")).collect()[0][0]
    m2 = assigned.agg(F.avg("cos")).collect()[0][0]
    assert m2 >= m1 - 1e-9
    # rerun on a repartitioned input: identical assignment (no RNG anywhere)
    a3, _ = kmeans_fit(df.repartition(7), k=3, iters=2)
    assert assigned.exceptAll(a3).count() == 0


@pytest.mark.slow
def test_pq_encode_and_adc_recall(spark):
    from webcrawler_spark.pipeline.similarity import (
        cosine_topk,
        kmeans_fit,
        pq_adc_topk,
        pq_encode,
        subvectors,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ev = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    m, sub, dim = 4, 16, 64
    # train one codebook per sub-block with the deterministic k-means
    books = []
    for j in range(m):
        sl = ev.select(
            "vec_id", F.slice("v", j * sub + 1, sub).alias("embedding")
        )
        _, cb = kmeans_fit(sl, k=8, iters=1)
        books.append(cb.select(F.lit(j).alias("subspace"),
                               F.col("centroid_id").alias("cid"),
                               F.col("c_vec")))
    codebooks = books[0]
    for b in books[1:]:
        codebooks = codebooks.unionByName(b)
    codebooks = codebooks.localCheckpoint(eager=True)

    codes = pq_encode(e, codebooks, m=m, dim=dim)
    # every vector gets exactly one code per subspace, in codebook range
    cnt = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == m for r in cnt)
    assert codes.filter((F.col("code") < 1) | (F.col("code") > 8)).count() == 0

    queries = ev.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
    )
    adc = pq_adc_topk(codes, codebooks, queries, m=m, dim=dim, k=10)
    # exact baseline under the SAME metric ADC approximates: the dot product
    from webcrawler_spark.pipeline.textprep import dot_double
    from pyspark.sql import Window as W

    scored = ev.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id", F.col("vec_id").alias("neighbor_id"),
        dot_double(F.col("v"), F.col("q_vec")).alias("dot"),
    )
    wq = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("neighbor_id"))
    exact = scored.withColumn("rnk", F.row_number().over(wq)).filter("rnk <= 10")
    a = {(r["q_id"], r["neighbor_id"]) for r in adc.collect()}
    x = {(r["q_id"], r["neighbor_id"]) for r in exact.collect()}
    # On these i.i.d.-random synthetic vectors quantization noise dominates
    # (no cluster structure to preserve), so absolute recall is modest; the
    # meaningful property is the lift over chance: measured 10% vs 2%
    # chance (top-10 of 500). Every step is deterministic, so the measured
    # value never moves.
    n_corpus = ev.count()
    chance = 10.0 / n_corpus
    assert len(a & x) / len(x) >= 3 * chance
    # deterministic under repartitioning
    adc2 = pq_adc_topk(codes.repartition(5), codebooks, queries, m=m, dim=dim, k=10)
    assert adc.exceptAll(adc2).count() == 0


def test_trap_signal_flags_generated_urls(spark):
    from webcrawler_spark.functions import trap_signal, url_template

    rows = (
        # trap.com: one template, 150 distinct generated urls
        [(f"https://trap.com/cal?day={i}",) for i in range(150)]
        # ok.com: 150 urls across 30 letter-distinct sections
        + [(f"https://ok.com/s{chr(97 + i % 26)}x/p/{i}",) for i in range(150)]
        # small.com: one template but under min_urls -> not flagged
        + [(f"https://small.com/id/{i}",) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "url string")
    out = {r["host"]: r for r in trap_signal(df).collect()}
    assert out["trap.com"]["trap"] and out["trap.com"]["n_templates"] == 1
    assert not out["ok.com"]["trap"] and out["ok.com"]["n_templates"] == 26
    assert not out["small.com"]["trap"]        # min_urls gate
    # template collapses digit AND long-hex runs
    t = (
        spark.range(1)
        .select(url_template(F.lit("https://h/x/deadbeefdeadbeef01/p/42")).alias("t"))
        .collect()[0]["t"]
    )
    assert t == "https://h/x/H/p/N"


def test_char_entropy_known_values(spark):
    import math

    from webcrawler_spark.pipeline.textstats import char_entropy

    rows = [(1, "aaaa"), (2, "ab"), (3, "aab"), (4, ""), (5, "abcd" * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert out[1]["entropy_bits"] == 0.0 and out[1]["distinct_chars"] == 1
    assert out[2]["entropy_bits"] == 1.0
    want = round(-(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3), 4)
    assert out[3]["entropy_bits"] == want
    assert out[4]["n_chars"] == 0 and out[4]["entropy_bits"] == 0.0
    assert out[5]["entropy_bits"] == 2.0    # uniform over 4 symbols


def test_frame_dupes_cross_video(spark):
    from webcrawler_spark.pipeline.multimodal import frame_dupes, frame_sample

    rows = [
        (1, b"payloadA"), (2, b"payloadB"),
        (3, b"payloadA"),                    # re-upload of video 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    frames = frame_sample(df, every_n=50, n_frames_total=100)  # 2 frames each
    dupes = frame_dupes(frames).collect()
    # both of video 1's frames collide with video 3's, keeper = (1, idx)
    assert len(dupes) == 2
    for r in dupes:
        assert r["n_copies"] == 2 and r["n_videos"] == 2
        assert r["keep_id"] == 1 and r["keep_idx"] in (0, 50)
    # unique payload never flagged
    assert all(r["keep_id"] != 2 for r in dupes)


def test_domain_quality_priors_tiers_and_subdomain_collapse(spark):
    """Per-domain priors: integer mean/tier math, and cdn.X falls with its
    registrant X (textstats.domain_quality_priors)."""
    from webcrawler_spark.pipeline.textstats import domain_quality_priors

    rich = "the quick brown fox jumps over the lazy dog and it is a fine day " * 5
    poor = "zzz !!!! ???? ;;;" * 3
    rows = [
        ("good.net", rich), ("cdn.good.net", rich),
        ("bad.net", poor), ("bad.net", poor),
        ("mix.net", rich), ("mix.net", poor),
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    out = {r.domain: r for r in domain_quality_priors(
        df, low_mean_e4=4000, good_mean_e4=6500
    ).collect()}
    assert set(out) == {"good.net", "bad.net", "mix.net"}
    assert out["good.net"].n_docs == 2          # subdomain collapsed
    assert out["good.net"].tier == "GOOD"
    assert out["bad.net"].tier == "LOW"
    assert out["mix.net"].tier == "MIXED"
    for r in out.values():                       # integer identities hold
        assert r.mean_quality_e4 == r.sum_quality_e4 // r.n_docs
        assert 0 <= r.low_pm <= 1000
