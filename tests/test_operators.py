"""LLM-pipeline operator tests: dedup (exact / minhash-LSH / simhash /
n-gram), text analysis, similarity search (brute force vs LSH recall),
and multimodal binary plumbing — on small deterministic corpora with
hand-checkable truths."""

import pytest

from pyspark.sql import Row, functions as F

from zdb_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="The quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the  quick brown fox jumps over the lazy dog "),  # ws/case dup of 1
        Row(doc_id=3, text="The quick brown fox jumps over the lazy cat"),   # near-dup of 1
        Row(doc_id=4, text="Completely different content about databases"),
        Row(doc_id=5, text="El rapido zorro marron salta sobre el perro"),
        Row(doc_id=6, text="The quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(rows).cache()


class TestExactDedup:
    def test_groups(self, docs):
        out = dedup.exact_dedup(docs, "text", "doc_id").collect()
        assert len(out) == 4  # {1,2,6} collapse, 3/4/5 distinct
        grp = {r["keep_id"]: r["dup_count"] for r in out}
        assert grp[1] == 3
        assert grp[3] == 1

    def test_unnormalized(self, docs):
        out = dedup.exact_dedup(docs, "text", "doc_id", normalized=False).collect()
        assert len(out) == 5  # only the byte-identical pair {1,6} collapses


class TestMinhashLSH:
    def test_near_dups_found(self, docs):
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id",
                                        num_hashes=64, bands=16,
                                        threshold=0.5).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        # all pairs among {1,2,6} are jaccard 1.0; 3 is a near-dup of each
        assert (1, 2) in got and (1, 6) in got and (2, 6) in got
        assert (1, 3) in got
        # unrelated docs must not pair
        assert not any(4 in p or 5 in p for p in got)

    def test_exact_dup_jaccard_one(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id").collect()}
        assert pairs[(1, 6)] == 1.0

    def test_est_tracks_exact(self, docs):
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id").collect():
            assert abs(r["est_jaccard"] - r["jaccard"]) < 0.35


class TestMinhashSignatureKernel:
    def test_bit_equal_to_jvm_expression(self, spark):
        """The Arrow numpy XXH64 kernel (r18) must be BIT-IDENTICAL to
        the Catalyst expression it replaced, element for element,
        including the null signature a null/empty text produces —
        random texts, plus the empty/whitespace/None edges, at a
        non-default width."""
        from pyspark.sql import functions as F

        import random
        rng = random.Random(7)
        texts = ["".join(rng.choice("abcdef \n") for _ in range(
            rng.randrange(1, 200))) for _ in range(50)]
        texts += ["", "   ", None, "ab"]  # sub-k and null edges
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        n = 17  # deliberately not the 64 default
        got = {r["doc_id"]: r["minhash"] for r in
               dedup.minhash_signature(df, "text", num_hashes=n,
                                       k=5).collect()}
        jvm_sig = dedup.let(
            dedup.hashed_shingles("text", 5),
            lambda sh: F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: F.array_min(
                    F.transform(sh, lambda h: F.xxhash64(h, i)))))
        want = {r["doc_id"]: r["ref"] for r in
                df.withColumn("ref", jvm_sig).collect()}
        assert got == want

    def test_band_hashes_bit_equal_to_jvm_banding(self, spark):
        """The kernel's fused band hashes (r19) must be BIT-IDENTICAL
        to the JVM banding expression they replaced —
        ``xxhash64(slice(minhash, b*r+1, r))`` per band — including the
        all-null signature of an empty/None text, which the JVM form
        hashes to the bare seed 42 (null elements are skipped).  Both
        the signature AND the band hashes must survive the fused
        output unchanged, at non-default (num_hashes, bands)."""
        from pyspark.sql import functions as F

        import random
        rng = random.Random(11)
        texts = ["".join(rng.choice("abcdef \n") for _ in range(
            rng.randrange(1, 200))) for _ in range(50)]
        texts += ["", "   ", None, "ab"]  # sub-k and null edges
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        n, bands = 24, 6  # deliberately not the (64, 16) defaults
        r = n // bands
        fused = dedup.minhash_signature(df, "text", num_hashes=n, k=5,
                                        bands=bands)
        got = {row["doc_id"]: (row["minhash"], row["_bh"])
               for row in fused.collect()}
        plain = dedup.minhash_signature(df, "text", num_hashes=n, k=5)
        ref = plain.select(
            "doc_id", "minhash",
            F.array(*[F.xxhash64(F.slice("minhash", b * r + 1, r))
                      for b in range(bands)]).alias("ref_bh"))
        want = {row["doc_id"]: (row["minhash"], row["ref_bh"])
                for row in ref.collect()}
        assert got == want

    def test_kernel_null_and_empty_shingle_edges(self, spark):
        """The kernel's null path, exercised DIRECTLY (no text reaches
        it through shingle_col — even a None text yields one [42]
        shingle): a NULL or empty shingle array must produce the JVM
        form's all-null signature and seed-42 band hashes (xxhash64
        over an array SKIPS null elements, leaving the bare seed)."""
        from pyspark.sql import functions as F

        n, bands = 8, 2
        r = n // bands
        udf = dedup._xxh64_sig_udf(n, bands)
        df = spark.createDataFrame(
            [(1, [7, -3, 12345678901234]), (2, []), (3, None)],
            "id long, sh array<long>")
        guarded = F.when(F.size("sh") >= 0, F.col("sh"))
        got = {row["id"]: row["o"] for row in
               df.select("id", udf(guarded).alias("o")).collect()}
        jvm_sig = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.array_min(
                F.transform("sh", lambda h: F.xxhash64(h, i))))
        ref = df.withColumn("sig", jvm_sig).select(
            "id",
            F.concat("sig", F.array(*[
                F.xxhash64(F.slice("sig", b * r + 1, r))
                for b in range(bands)])).alias("o"))
        want = {row["id"]: row["o"] for row in ref.collect()}
        assert got == want
        assert got[2] == [None] * n + [42] * bands
        assert got[3] == [None] * n + [42] * bands


class TestBucketCap:
    """max_bucket_size: the hot-bucket bound on both LSH-join operators."""

    @pytest.fixture(scope="class")
    def flood_docs(self, spark):
        """Base corpus + 80 planted boilerplate docs: shared prefix ~61%
        of each planted doc's shingles (floods the pure-boilerplate
        minhash bucket in each band) while pairwise Jaccard stays below
        the 0.5 threshold (unique md5 tails) — hot buckets with no true
        pairs in them."""
        import hashlib

        boiler = ("this content is provided as is without warranty of any "
                  "kind either express or implied including but not limited "
                  "to the implied warranties of merchantability fitness for "
                  "a particular purpose and noninfringement in no event "
                  "shall the authors be liable for any claim")
        rows = [
            Row(doc_id=1, text="The quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the  quick brown fox jumps over the lazy dog "),
            Row(doc_id=3, text="Completely different content about databases"),
        ]
        for i in range(1, 81):
            tail = "".join(
                hashlib.md5(f"{i + j * 1000}".encode()).hexdigest()
                for j in range(5))
            rows.append(Row(doc_id=9000 + i, text=f"{boiler} {tail}"))
        return spark.createDataFrame(rows).cache()

    def test_minhash_cap_engages_without_losing_true_pairs(self, flood_docs):
        uncapped = dedup.minhash_lsh_pairs(
            flood_docs, "text", "doc_id", num_hashes=64, bands=16,
            threshold=0.5)
        capped = dedup.minhash_lsh_pairs(
            flood_docs, "text", "doc_id", num_hashes=64, bands=16,
            threshold=0.5, max_bucket_size=8)
        want = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert (1, 2) in want          # the one true pair
        assert got == want             # cap costs no recall here
        dropped = capped._zdb_dropped_buckets.collect()
        assert dropped, "cap did not engage on the planted flood"
        assert all(r["bucket_size"] > 8 for r in dropped)
        assert not hasattr(uncapped, "_zdb_dropped_buckets")

    def test_cap_hot_frame_persisted_and_releasable(self, flood_docs):
        """r19: the hot-bucket frame is persisted (it feeds the in-plan
        anti join AND the strip-proof collect) and rides the cache
        handles so release() frees it."""
        capped = dedup.minhash_lsh_pairs(
            flood_docs, "text", "doc_id", num_hashes=64, bands=16,
            threshold=0.5, max_bucket_size=8)
        dropped = capped._zdb_dropped_buckets
        assert dropped.storageLevel.useMemory
        assert any(h is dropped for h in capped._zdb_cache_handles)
        capped.collect()
        assert dropped.collect()          # served from the cached frame
        dedup.release(capped)             # unpersists hot + base, no raise
        assert not dropped.storageLevel.useMemory

    def test_ngram_cap_drops_clique_postings(self, spark):
        """With freq-ascending prefixes, a flooded postings list is
        nearly always a true-dup clique (identical docs share identical
        prefixes), so the ngram cap is explicitly a recall trade: the
        clique's pairs go, unrelated pairs stay.  Pin both halves."""
        rows = [
            Row(doc_id=1, text="The quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the  quick brown fox jumps over the lazy dog "),
            Row(doc_id=3, text="Completely different content about databases"),
        ]
        clique_text = ("identical boilerplate paragraph repeated verbatim "
                       "across many scraped pages of the same template")
        rows += [Row(doc_id=100 + i, text=clique_text) for i in range(30)]
        docs = spark.createDataFrame(rows)

        capped = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                           k=5, threshold=0.8,
                                           max_bucket_size=10)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        dropped = capped._zdb_dropped_buckets.collect()
        assert dropped, "cap did not engage on the 30-doc clique"
        assert all(r["bucket_size"] > 10 for r in dropped)
        assert (1, 2) in got                        # unrelated pair survives
        assert not any(a >= 100 for a, _ in got)    # clique pairs dropped

        uncapped = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                             k=5, threshold=0.8)
        n_clique_pairs = 30 * 29 // 2
        assert len(uncapped.collect()) == len(got) + n_clique_pairs


class TestCharFingerprints:
    def test_planted_shared_span_found(self, spark):
        span = "THE EXACT SAME LICENSE BLOCK PASTED VERBATIM " * 4
        rows = [(1, "alpha " * 30 + span),
                (2, span + " omega " * 30),
                (3, "completely different text with no overlap " * 8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                           n=24, mod=4, min_shared=1)
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (1, 2) in got
        assert not any(3 in p for p in got)

    def test_no_false_pairs_on_disjoint_text(self, spark):
        rows = [(i, f"doc {i} " + f"unique{i} " * 50) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                           n=24, mod=2, min_shared=1)
        # "unique{i}" repeats WITHIN a doc but never across docs
        assert out.count() == 0

    def test_hot_fingerprint_cap(self, spark):
        boiler = "COMMON HEADER EVERY DOC CARRIES IN FULL " * 3
        rows = [(i, boiler + f"tail{i} " * 20) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                              n=24, mod=4, min_shared=1,
                                              max_bucket_size=5)
        # every cross-doc fingerprint is the 10-doc boilerplate -> all
        # buckets capped -> no pairs, and the drop is surfaced
        assert capped.count() == 0
        assert capped._zdb_dropped_buckets.count() > 0
        uncapped = dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                                n=24, mod=4, min_shared=1)
        assert uncapped.count() == 45              # all C(10,2) pairs

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="positive"):
            dedup.char_fingerprint_pairs(df, "text", "doc_id", n=0)

    def test_incremental_matches_full_run(self, spark, tmp_path):
        span = "SHARED BOILERPLATE SPAN FOR EVERYONE TO COPY " * 3
        rows = [(i, (span if i % 2 == 0 else "solo ") + f"tail{i} " * 30)
                for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        old = df.where("doc_id < 6")
        new = df.where("doc_id >= 6")
        store = str(tmp_path / "fp_store")
        dedup.build_fingerprint_store(old, store, "text", "doc_id",
                                      n=24, mod=2)
        inc = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
               dedup.incremental_fingerprint_pairs(
                   new, store, "text", "doc_id", min_shared=1,
                   assume_disjoint=True).collect()}
        full = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
                dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                             n=24, mod=2,
                                             min_shared=1).collect()}
        want = {p: c for p, c in full.items()
                if p[0] >= 6 or p[1] >= 6}
        assert inc == want and len(inc) > 0

    def test_incremental_resubmission_excluded(self, spark, tmp_path):
        rows = [(i, "THE SAME LONG REPEATED CONTENT BLOCK " * 4)
                for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        store = str(tmp_path / "fp_store2")
        dedup.build_fingerprint_store(df, store, "text", "doc_id",
                                      n=24, mod=1)
        # re-submit doc 0: must NOT pair with its own stored rows
        out = dedup.incremental_fingerprint_pairs(
            df.where("doc_id = 0"), store, "text", "doc_id",
            min_shared=1).collect()
        got = {(r["id_a"], r["id_b"]) for r in out}
        assert got == {(0, 1), (0, 2), (0, 3)}

    def test_resubmitted_short_text_retires_stale_fingerprints(
            self, spark, tmp_path):
        """A doc resubmitted with text now SHORTER than n emits no new
        fingerprints — but its STALE stored rows must still be excluded,
        or it pairs on content it no longer contains."""
        long_text = "THE SAME LONG REPEATED CONTENT BLOCK " * 4
        df = spark.createDataFrame([(0, long_text), (1, long_text)],
                                   "doc_id long, text string")
        store = str(tmp_path / "fp_store_stale")
        dedup.build_fingerprint_store(df, store, "text", "doc_id",
                                      n=24, mod=1)
        resub = spark.createDataFrame([(0, "now tiny")],
                                      "doc_id long, text string")
        out = dedup.incremental_fingerprint_pairs(
            resub, store, "text", "doc_id", min_shared=1).collect()
        assert out == []    # no fingerprints from 8 chars; none stale

    def test_append_extends_store(self, spark, tmp_path):
        rows = [(i, "APPEND STORE SHARED SPAN CONTENT HERE " * 3)
                for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        store = str(tmp_path / "fp_store3")
        dedup.build_fingerprint_store(df.where("doc_id < 2"), store,
                                      "text", "doc_id", n=24, mod=1)
        dedup.append_fingerprint_store(df.where("doc_id = 2"), store,
                                       "text", "doc_id")
        out = dedup.incremental_fingerprint_pairs(
            df.where("doc_id = 3"), store, "text", "doc_id",
            min_shared=1, assume_disjoint=True).collect()
        assert {(r["id_a"], r["id_b"]) for r in out} \
            == {(0, 3), (1, 3), (2, 3)}

    def test_store_version_pinned(self, spark, tmp_path):
        import json
        import os

        df = spark.createDataFrame([(1, "x" * 40)],
                                   "doc_id long, text string")
        store = str(tmp_path / "fp_store4")
        dedup.build_fingerprint_store(df, store, "text", "doc_id")
        with open(os.path.join(store, "params.json")) as f:
            p = json.load(f)
        p["version"] = "fp0"
        with open(os.path.join(store, "params.json"), "w") as f:
            json.dump(p, f)
        with pytest.raises(ValueError, match="rebuild the store"):
            dedup.incremental_fingerprint_pairs(df, store, "text",
                                                "doc_id")

    def test_short_texts_emit_no_fingerprints(self, spark):
        """Texts shorter than n must produce ZERO fingerprints — the
        sequence(1, 0)-is-descending trap would otherwise fingerprint
        the whole short text and pair identical short docs as sharing a
        >= n-char span."""
        rows = [(1, "tiny"), (2, "tiny"), (3, ""), (4, "x" * 23)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.char_fingerprint_pairs(df, "text", "doc_id",
                                           n=24, mod=1, min_shared=1)
        assert out.count() == 0
        # exactly-n text emits exactly its one gram
        df2 = spark.createDataFrame([(1, "y" * 24), (2, "y" * 24)],
                                    "doc_id long, text string")
        out2 = dedup.char_fingerprint_pairs(df2, "text", "doc_id",
                                            n=24, mod=1, min_shared=1)
        assert [(r["id_a"], r["id_b"], r["n_shared"])
                for r in out2.collect()] == [(1, 2, 1)]


class TestSimhash:
    def test_pairs(self, docs):
        pairs = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
        assert got[(1, 2)] == 0   # normalization-identical
        assert got[(1, 6)] == 0
        assert (1, 4) not in got and (1, 5) not in got

    def test_hamming_bound(self, docs):
        for r in dedup.simhash_pairs(docs, "text", "doc_id", 3).collect():
            assert r["hamming"] <= 3


class TestNgramJaccard:
    def test_exact_pairs(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                          k=5, threshold=0.8)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert got[(1, 2)] == 1.0
        assert got[(1, 6)] == 1.0
        assert (1, 3) in got  # one-word change at 5-gram granularity
        assert all(v >= 0.8 for v in got.values())


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="Hello, world! Two")])
        r = text.token_counts(df, "text").collect()[0]
        assert r["n_ws_tokens"] == 3
        # hello , world ! two
        assert r["n_bpe_tokens"] == 5

    def test_language_id(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="the cat and the dog in the house"),
            Row(doc_id=2, text="el perro y la casa de los gatos"),
            Row(doc_id=3, text="der Hund und die Katze ist nicht da"),
            Row(doc_id=4, text="le chat et les chiens dans une maison"),
            Row(doc_id=5, text="xyzzy plugh"),
        ])
        out = {r["doc_id"]: r["lang_pred"]
               for r in text.language_id(df, "text").collect()}
        assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "und"}

    def test_quality_features(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="the cat sat")])
        r = text.quality_features(df, "text").collect()[0]
        assert r["n_words"] == 3
        assert r["punct_ratio"] == 0.0
        assert abs(r["stopword_ratio"] - 1 / 3) < 1e-6
        assert 0.0 <= r["quality_score"] <= 1.0

    def test_repetition_features(self, spark):
        df = spark.createDataFrame([
            # 4 lines, "dup dup" twice; bigrams of "a b a b a b":
            # "a b" x3, "b a" x2 -> top bigram 3/5
            Row(doc_id=1, text="dup dup\nunique one\ndup dup\na b a b a b"),
            Row(doc_id=2, text="x"),           # 1 token: no bigrams
            Row(doc_id=3, text="p1\n\np1"),    # duplicate paragraphs
        ])
        out = {r["doc_id"]: r
               for r in text.repetition_features(df, "text").collect()}
        assert abs(out[1]["dup_line_frac"] - 0.25) < 1e-6   # 4 lines, 3 uniq
        assert out[2]["top_bigram_frac"] == 0.0
        assert out[2]["top_trigram_frac"] == 0.0
        assert abs(out[3]["dup_para_frac"] - 0.5) < 1e-6
        # doc 1 tokens (\s+ split crosses lines): 12 -> 11 bigrams,
        # top is "a b" x3
        assert abs(out[1]["top_bigram_frac"] - 3 / 11) < 1e-4

    def test_redact_pii(self, spark):
        df = spark.createDataFrame([Row(
            doc_id=1,
            text="mail a@b.com and c.d@e.org ssn 123-45-6789 "
                 "phone 555-123-4567 ip 10.0.0.1 end")])
        r = text.redact_pii(df, "text").collect()[0]
        assert r["n_email"] == 2
        assert r["n_ssn"] == 1
        # the SSN's 2-digit middle group does NOT match the phone
        # pattern's {3} — only the real phone counts
        assert r["n_phone"] == 1
        assert r["n_ipv4"] == 1
        assert r["redacted"] == ("mail <EMAIL> and <EMAIL> ssn <SSN> "
                                 "phone <PHONE> ip <IP> end")

    def test_fingerprint_deterministic(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="some repeated content here"),
            Row(doc_id=2, text="some  Repeated content HERE"),  # normalizes same
        ])
        out = text.fingerprint(df, "text", k=8).collect()
        fps = {r["doc_id"]: r["fp_min_hash"] for r in out}
        assert fps[1] == fps[2]


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.randn(40, 16)
        base[1] = base[0] + 0.01 * rng.randn(16)  # vec 1 ≈ vec 0
        rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]])
                for i in range(40)]
        return spark.createDataFrame(rows).cache()

    def test_brute_force_self_first(self, emb):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        top = similarity.brute_force_topk(emb, qv, k=3).collect()
        assert top[0]["vec_id"] == 0
        assert abs(top[0]["cosine_sim"] - 1.0) < 1e-6
        assert top[1]["vec_id"] == 1  # the planted near-neighbor

    def test_lsh_recall(self, emb):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(emb, qv, k=5).collect()]
        approx = [r["vec_id"] for r in
                  similarity.lsh_topk(emb, qv, k=5, num_bits=6,
                                      num_tables=8, dim=16).collect()]
        # recall@5 >= 0.6 with 8 tables on 40 vectors
        assert len(set(exact) & set(approx)) >= 3
        assert 0 in approx and 1 in approx

    def test_ivf_recall(self, emb):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(emb, qv, k=5).collect()]
        approx = [r["vec_id"] for r in
                  similarity.ivf_topk(emb, qv, k=5, n_centroids=4,
                                      n_probe=2).collect()]
        assert len(set(exact) & set(approx)) >= 3
        assert 0 in approx

    def test_persisted_lsh_index(self, emb, tmp_path):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "lsh")
        similarity.build_lsh_index(emb, path, num_bits=6, num_tables=8,
                                   dim=16)
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(emb, qv, k=5).collect()]
        spark = emb.sparkSession
        approx = [r["vec_id"] for r in
                  similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert len(set(exact) & set(approx)) >= 3
        assert 0 in approx and 1 in approx
        # probing again hits the same persisted files — no rebuild
        again = [r["vec_id"] for r in
                 similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert again == approx

    def test_persisted_ivf_index(self, emb, tmp_path):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "ivf")
        similarity.build_ivf_index(emb, path, n_centroids=4)
        spark = emb.sparkSession
        approx = [r["vec_id"] for r in
                  similarity.ivf_index_topk(spark, path, qv, k=5,
                                            n_probe=2).collect()]
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(emb, qv, k=5).collect()]
        assert len(set(exact) & set(approx)) >= 3
        assert 0 in approx

    def test_simhash_portable_matches_default_pairs(self, docs):
        # portable hash changes fingerprints but near-dup structure holds
        out = dedup.simhash_pairs(docs, max_hamming=3,
                                  portable=True).collect()
        assert any(r["id_a"] == 1 and r["id_b"] == 2 for r in out)

    def test_release_unpersists(self, docs):
        res = dedup.simhash_pairs(docs, max_hamming=3)
        res.collect()
        handles = res._zdb_cache_handles
        assert handles and handles[0].is_cached
        dedup.release(res)
        assert not handles[0].is_cached

    def test_embedding_dedup_finds_planted_pair(self, emb):
        pairs = similarity.embedding_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.95,
            num_bits=6, num_tables=6, dim=16).collect()
        got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in pairs}
        assert (0, 1) in got  # the planted near-duplicate
        assert got[(0, 1)] > 0.99
        assert all(v >= 0.95 for v in got.values())

    def test_embedding_dedup_caches_signature_frame(self, emb):
        # the candidate self-join must read the hyperplane signatures
        # from ONE materialized frame (InMemoryRelation on both sides),
        # not re-evaluate the dot-product tree per side
        res = similarity.embedding_dedup_pairs(
            emb, "embedding", "vec_id", threshold=0.95,
            num_bits=6, num_tables=4, dim=16)
        plan = res._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        handles = res._zdb_cache_handles
        assert handles and handles[0].is_cached
        from zdb_spark.operators import dedup
        dedup.release(res)
        assert not handles[0].is_cached

    def test_knn_join_lsh_caches_both_tag_frames(self, emb):
        res = similarity.knn_join_lsh(emb, emb, k=2, num_bits=6,
                                      num_tables=4, dim=16)
        handles = res._zdb_cache_handles
        assert len(handles) == 2 and all(h.is_cached for h in handles)
        from zdb_spark.operators import dedup
        dedup.release(res)
        assert not any(h.is_cached for h in handles)

    def test_lsh_append_equals_rebuild(self, emb, tmp_path):
        # hyperplanes derive from the sidecar seed, so build(half1) +
        # append(half2) must probe identically to build(full)
        spark = emb.sparkSession
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        half1 = emb.where(F.col("vec_id") < 20)
        half2 = emb.where(F.col("vec_id") >= 20)
        inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
        similarity.build_lsh_index(half1, inc, num_bits=6, num_tables=8,
                                   dim=16)
        similarity.append_lsh_index(half2, inc)
        similarity.build_lsh_index(emb, full, num_bits=6, num_tables=8,
                                   dim=16)
        got = [(r["vec_id"], r["cosine_sim"]) for r in
               similarity.lsh_index_topk(spark, inc, qv, k=5).collect()]
        want = [(r["vec_id"], r["cosine_sim"]) for r in
                similarity.lsh_index_topk(spark, full, qv, k=5).collect()]
        assert got == want

    def test_ivf_append_equals_rebuild_same_quantizer(self, emb, tmp_path):
        # append assigns with the sidecar centroids (never retrains), so
        # the comparison rebuild must reuse the same quantizer
        import json as _json

        spark = emb.sparkSession
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        half1 = emb.where(F.col("vec_id") < 20)
        half2 = emb.where(F.col("vec_id") >= 20)
        inc, full = str(tmp_path / "iinc"), str(tmp_path / "ifull")
        similarity.build_ivf_index(half1, inc, n_centroids=4)
        similarity.append_ivf_index(half2, inc)
        with open(f"{inc}/_meta") as f:
            cents = _json.load(f)["centroids"]
        similarity.build_ivf_index(emb, full, centroids=cents)
        got = [(r["vec_id"], r["cosine_sim"]) for r in
               similarity.ivf_index_topk(spark, inc, qv, k=5,
                                         n_probe=2).collect()]
        want = [(r["vec_id"], r["cosine_sim"]) for r in
                similarity.ivf_index_topk(spark, full, qv, k=5,
                                          n_probe=2).collect()]
        assert got == want

    def test_compact_merges_append_files(self, emb, tmp_path):
        spark = emb.sparkSession
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "cmp")
        similarity.build_lsh_index(
            emb.where(F.col("vec_id") < 20), path, num_bits=6,
            num_tables=4, dim=16)
        for lo in (20, 30):  # two appends -> extra file per partition each
            similarity.append_lsh_index(
                emb.where((F.col("vec_id") >= lo) &
                          (F.col("vec_id") < lo + 10)), path)
        before_files = similarity.index_data_files(path)
        want = [(r["vec_id"], r["cosine_sim"]) for r in
                similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        after_count = similarity.compact_ann_index(spark, path)
        assert after_count < len(before_files)
        got = [(r["vec_id"], r["cosine_sim"]) for r in
               similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert got == want
        # appending to the wrong index kind is an error, not corruption
        with pytest.raises(ValueError):
            similarity.append_ivf_index(emb, path)

    def test_compact_generations_atomic(self, emb, tmp_path):
        """Compaction publishes a fresh immutable generation via CAS
        pointer flip: probes see old-complete or new-complete, never a
        mix; the previous generation survives one cycle for in-flight
        probes; older ones are vacuumed."""
        import os

        spark = emb.sparkSession
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "gen")
        similarity.build_lsh_index(
            emb.where(F.col("vec_id") < 30), path, num_bits=6,
            num_tables=4, dim=16)
        similarity.append_lsh_index(emb.where(F.col("vec_id") >= 30), path)
        want = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
                similarity.lsh_index_topk(spark, path, qv, k=5).collect()]

        assert similarity.current_generation(path) == (
            0, os.path.join(path, "data"))
        similarity.compact_ann_index(spark, path)
        g, d = similarity.current_generation(path)
        assert g == 1 and d.endswith("data-g1")
        # previous generation kept for the grace cycle
        assert os.path.isdir(os.path.join(path, "data"))
        got = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
               similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert got == want

        # a second cycle vacuums generation 0 but keeps generation 1
        similarity.append_lsh_index(emb.limit(0), path)  # no-op append
        similarity.compact_ann_index(spark, path)
        assert similarity.current_generation(path)[0] == 2
        assert not os.path.isdir(os.path.join(path, "data"))
        assert os.path.isdir(os.path.join(path, "data-g1"))
        got = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
               similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert got == want

    def test_compact_cas_loser_cleans_up(self, emb, tmp_path, monkeypatch):
        """A compactor that loses the generation CAS discards its output
        and raises; the index stays on the winner's generation."""
        spark = emb.sparkSession
        path = str(tmp_path / "cas")
        similarity.build_lsh_index(emb, path, num_bits=6, num_tables=4,
                                   dim=16)
        # the CAS primitive itself: second publisher of a generation loses
        assert similarity._publish_generation(path, 7, "data-g7") is True
        assert similarity._publish_generation(path, 7, "other") is False
        similarity._reset_generations(path)

        monkeypatch.setattr(similarity, "_publish_generation",
                            lambda *a, **k: False)
        import os
        with pytest.raises(RuntimeError, match="concurrent compaction"):
            similarity.compact_ann_index(spark, path)
        assert not os.path.isdir(os.path.join(path, "data-g1"))
        assert similarity.current_generation(path)[0] == 0

    def test_probe_during_compaction_never_mixed(self, emb, tmp_path):
        """Drive probes concurrently with a compaction flip; every probe
        must return the full-index result — no half-swapped reads."""
        import threading

        spark = emb.sparkSession
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "conc")
        similarity.build_lsh_index(
            emb.where(F.col("vec_id") < 30), path, num_bits=6,
            num_tables=4, dim=16)
        similarity.append_lsh_index(emb.where(F.col("vec_id") >= 30), path)
        want = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
                similarity.lsh_index_topk(spark, path, qv, k=5).collect()]

        err: list[BaseException] = []

        def compact():
            try:
                similarity.compact_ann_index(spark, path)
            except BaseException as e:  # surfaced on join
                err.append(e)

        th = threading.Thread(target=compact)
        th.start()
        while th.is_alive():
            got = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
                   similarity.lsh_index_topk(spark, path, qv,
                                             k=5).collect()]
            assert got == want
        th.join()
        assert not err, err
        got = [(r["vec_id"], round(r["cosine_sim"], 9)) for r in
               similarity.lsh_index_topk(spark, path, qv, k=5).collect()]
        assert got == want

    def test_index_probes_prune_in_plan(self, emb, tmp_path):
        # the scale claim, pinned: an LSH probe partition-prunes on t and
        # pushes the sig filter; an IVF probe partition-prunes on
        # centroid_id. Neither rescans the corpus.
        from zdb_spark.plans.inspect import scan_report

        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        spark = emb.sparkSession
        lp = str(tmp_path / "lshplan")
        similarity.build_lsh_index(emb, lp, num_bits=6, num_tables=4,
                                   dim=16)
        rep = scan_report(similarity.lsh_index_topk(spark, lp, qv, k=5))
        assert rep.has_partition_pruning  # t
        assert rep.has_pushed_filters     # sig
        ip = str(tmp_path / "ivfplan")
        similarity.build_ivf_index(emb, ip, n_centroids=4)
        rep = scan_report(similarity.ivf_index_topk(spark, ip, qv, k=5,
                                                    n_probe=2))
        assert rep.has_partition_pruning  # centroid_id
        assert rep.exchanges == 0

    def test_knn_join_lsh_two_large_sides(self, emb):
        # approximate join must find each row's self-match and the
        # planted near-neighbor without any broadcast
        out = similarity.knn_join_lsh(
            emb.where(F.col("vec_id") < 3), emb, k=2,
            num_bits=4, num_tables=8, dim=16).collect()
        by_left = {}
        for r in out:
            by_left.setdefault(r["vec_id"], []).append(r)
        assert set(by_left) == {0, 1, 2}
        for vid, rows in by_left.items():
            assert rows[0]["neighbor_id"] == vid  # self is rank 1
        # planted pair: 1 is 0's nearest non-self neighbor
        assert by_left[0][1]["neighbor_id"] == 1

    def test_multiprobe_improves_candidates(self, emb, tmp_path):
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        path = str(tmp_path / "lshmp")
        # deliberately weak index (1 table) so single-bucket probing
        # plausibly misses; multiprobe at hamming<=1 probes 1+bits buckets
        similarity.build_lsh_index(emb, path, num_bits=6, num_tables=1,
                                   dim=16)
        spark = emb.sparkSession
        base = set(r["vec_id"] for r in
                   similarity.lsh_index_topk(spark, path, qv, k=10)
                   .collect())
        probed = set(r["vec_id"] for r in
                     similarity.lsh_index_topk(spark, path, qv, k=10,
                                               multiprobe_bits=1)
                     .collect())
        assert base <= probed or len(probed) >= len(base)
        assert 0 in probed and 1 in probed

    def test_knn_join(self, emb):
        left = emb.where(F.col("vec_id") < 3)
        out = similarity.knn_join_bruteforce(left, emb, k=2,
                                             left_id="vec_id").collect()
        by_left = {}
        for r in out:
            by_left.setdefault(r["vec_id"], []).append(r)
        assert set(by_left) == {0, 1, 2}
        for vid, rows in by_left.items():
            assert rows[0]["neighbor_id"] == vid  # self is rank 1
            assert len(rows) == 2



class TestPQ:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.randn(60, 16)
        base[1] = base[0] + 0.01 * rng.randn(16)
        base[2] = base[0] + 0.02 * rng.randn(16)
        rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]])
                for i in range(60)]
        return spark.createDataFrame(rows).cache()

    def test_train_deterministic(self, emb):
        a = similarity.pq_train(emb, m=4, k=8, sample_size=60)
        b = similarity.pq_train(emb, m=4, k=8, sample_size=60)
        assert (a == b).all()
        assert a.shape == (4, 8, 4)

    def test_encode_shape_and_determinism(self, emb):
        books = similarity.pq_train(emb, m=4, k=8, sample_size=60)
        a = similarity.pq_encode(emb, books).toPandas().sort_values("vec_id")
        b = similarity.pq_encode(emb, books).toPandas().sort_values("vec_id")
        assert (a.pq_codes.map(len) == 4).all()
        assert a.pq_codes.map(max).max() < 8
        assert [list(x) for x in a.pq_codes] == [list(x) for x in b.pq_codes]

    def test_topk_matches_brute_force_with_rerank(self, emb):
        books = similarity.pq_train(emb, m=4, k=8, sample_size=60)
        codes = similarity.pq_encode(emb, books)
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        got = similarity.pq_topk(codes, qv, books, emb, k=5,
                                 rerank=30).toPandas()
        want = similarity.brute_force_topk(emb, qv, k=5).toPandas()
        # rerank=half the corpus: exact parity expected
        assert got.vec_id.tolist() == want.vec_id.tolist()
        assert got.cosine_sim.tolist() == want.cosine_sim.tolist()

    def test_adc_scan_is_jvm_only(self, emb, tmp_path):
        """Scoring over MATERIALIZED codes must not re-enter Python:
        the ADC aggregate is pure codegen (the compressed-domain scan is
        the whole point at 100 TB)."""
        books = similarity.pq_train(emb, m=4, k=8, sample_size=60)
        p = str(tmp_path / "codes")
        similarity.pq_encode(emb, books).write.parquet(p)
        codes = emb.sparkSession.read.parquet(p)
        qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        df = similarity.pq_topk(codes, qv, books, emb, k=5, rerank=30)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestMultimodal:
    @pytest.fixture(scope="class")
    def blobs(self, spark):
        rows = [
            Row(id=1, blob=b"\x89PNG\r\n\x1a\n" + b"x" * 100),
            Row(id=2, blob=b"\xff\xd8\xff\xe0" + b"y" * 50),
            Row(id=3, blob=b"plain bytes payload"),
        ]
        return spark.createDataFrame(rows)

    def test_blob_metadata(self, blobs):
        out = {r["id"]: r for r in
               multimodal.blob_metadata(blobs, "blob", "id").collect()}
        assert out[1]["sniffed_fmt"] == "png"
        assert out[2]["sniffed_fmt"] == "jpeg"
        assert out[3]["sniffed_fmt"] == "unknown"
        assert out[1]["byte_len"] == 108

    def test_decode_stub_deterministic(self, blobs):
        a = sorted(multimodal.decode_images(blobs, "blob", "id").collect())
        b = sorted(multimodal.decode_images(blobs, "blob", "id").collect())
        assert a == b
        assert all(r["fmt"] == "fake" for r in a)
        assert all(16 <= r["width"] < 80 for r in a)

    def test_decode_pil_raises(self, blobs):
        with pytest.raises(Exception):
            multimodal.decode_images(blobs, "blob", "id",
                                     decoder="pil").collect()

    def test_decoder_contract_schema_identical(self, blobs):
        """The stub↔real contract: both decoder slots declare the SAME
        output schema (plan-time, no execution), so wiring a real codec
        cannot drift the downstream pipeline's shape.  The pil slot must
        fail at EXECUTION with NotImplementedError — not at plan time —
        since schema declaration is exactly what downstream planning
        consumes."""
        fake = multimodal.decode_images(blobs, "blob", "id", decoder="fake")
        pil = multimodal.decode_images(blobs, "blob", "id", decoder="pil")
        assert fake.schema == pil.schema          # the contract
        assert [f.name for f in fake.schema] == [
            "id", "fmt", "width", "height", "channels", "mean_luma"]
        # pil slot: planning succeeded above; execution raises the
        # documented NotImplementedError (surfaced via PythonException)
        with pytest.raises(Exception, match="NotImplementedError|PIL"):
            pil.collect()

    def test_decoder_unknown_rejected(self, blobs):
        with pytest.raises(ValueError, match="unknown decoder"):
            multimodal.decode_images(blobs, "blob", "id", decoder="ffmpeg")

    def test_sample_frames_shape(self, blobs):
        out = multimodal.sample_frames(blobs, "blob", "id",
                                       every_nth=1, max_frames=2).collect()
        assert all(len(r) == 3 for r in out)
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append(r)
        assert by_id[1][0]["frame_idx"] == 0

    def test_png_roundtrip_all_colortypes(self):
        from zdb_spark.operators.multimodal import png_decode, png_encode

        for ct, color, luma in [
            (0, (77,), round(77 / 255.0, 6)),
            (2, (10, 200, 30),
             round((0.299 * 10 + 0.587 * 200 + 0.114 * 30) / 255.0, 6)),
            (4, (128, 255), round(128 / 255.0, 6)),
            (6, (1, 2, 3, 255),
             round((0.299 * 1 + 0.587 * 2 + 0.114 * 3) / 255.0, 6)),
        ]:
            fmt, w, h, c, got = png_decode(png_encode(9, 7, color, ct))
            assert (fmt, w, h, c) == ("png", 9, 7, len(color))
            assert got == luma

    def test_png_decode_reverses_all_filters(self):
        """Hand-built scanlines, one per filter type (Sub/Up/Average/
        Paeth) — decode must recover the exact pixel values the filters
        were applied to."""
        import struct
        import zlib

        from zdb_spark.operators.multimodal import (_PNG_SIG, _png_chunk,
                                                    png_decode)

        rows = [[10, 20, 30, 40], [11, 21, 31, 41],
                [12, 22, 32, 42], [13, 23, 33, 43]]

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        r0 = [1, rows[0][0]] + [(rows[0][x] - rows[0][x - 1]) & 255
                                for x in range(1, 4)]
        r1 = [2] + [(rows[1][x] - rows[0][x]) & 255 for x in range(4)]
        r2 = [3] + [(rows[2][x] - (((rows[2][x - 1] if x else 0)
                                    + rows[1][x]) >> 1)) & 255
                    for x in range(4)]
        r3 = [4] + [(rows[3][x] - paeth(rows[3][x - 1] if x else 0,
                                        rows[2][x],
                                        rows[2][x - 1] if x else 0)) & 255
                    for x in range(4)]
        raw = bytes(r0 + r1 + r2 + r3)
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        img = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(raw))
               + _png_chunk(b"IEND", b""))
        fmt, w, h, c, luma = png_decode(img)
        exp = round(sum(sum(r) for r in rows) / 16 / 255.0, 6)
        assert (fmt, w, h, c, luma) == ("png", 4, 4, 1, exp)

    def test_png_decode_rejects_garbage(self):
        from zdb_spark.operators.multimodal import png_decode, png_encode

        with pytest.raises(ValueError, match="signature"):
            png_decode(b"not a png at all")
        with pytest.raises(ValueError):
            png_decode(png_encode(4, 4, (1, 2, 3), 2)[:20])

    def test_bmp_roundtrip_24_32_palette_topdown(self):
        """From-scratch BMP codec (the PIL-slot raster gap): 24/32 bpp
        round-trip against the fixture encoder, 8-bit palette
        expansion, top-down rows, and the loud-raise contract on
        compressed / exotic streams."""
        import struct

        import numpy as np

        from zdb_spark.operators.multimodal import bmp_decode, bmp_encode

        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
        exp_luma = round(float(
            (0.299 * px[:, :, 0].mean() + 0.587 * px[:, :, 1].mean()
             + 0.114 * px[:, :, 2].mean()) / 255.0), 6)
        for bpp in (24, 32):
            fmt, w, h, nch, luma = bmp_decode(bmp_encode(px, bpp=bpp))
            assert (fmt, w, h, nch) == ("bmp", 17, 13, bpp // 8)
            assert abs(luma - exp_luma) <= 1e-6

        # top-down (negative height): same pixels, flipped storage
        blob = bmp_encode(px)
        td = blob[:22] + struct.pack("<i", -13) + blob[26:]
        assert bmp_decode(td)[4] == bmp_decode(blob)[4]

        # 8-bit palette: 2-color checkerboard via a hand-built file
        w, h = 8, 4
        pal = bytes([0, 0, 255, 0]) + bytes([255, 255, 0, 0])  # BGRX
        rows = bytearray()
        for y in range(h - 1, -1, -1):
            rows += bytes((x + y) % 2 for x in range(w))  # stride 8 ok
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                          len(rows), 0, 0, 2, 0)
        off = 14 + 40 + len(pal)
        head = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
        fmt, gw, gh, nch, luma = bmp_decode(head + dib + pal
                                            + bytes(rows))
        # half red (255,0,0), half cyan (0,255,255): channel means all
        # 127.5 -> luma 0.5
        assert (fmt, gw, gh, nch) == ("bmp", 8, 4, 3)
        assert luma == 0.5

        # loud raises: RLE compression, 16 bpp, legacy core header
        bad = blob[:30] + struct.pack("<I", 1) + blob[34:]
        with pytest.raises(NotImplementedError, match="compression"):
            bmp_decode(bad)
        bad = blob[:28] + struct.pack("<H", 16) + blob[30:]
        with pytest.raises(NotImplementedError, match="bpp"):
            bmp_decode(bad)
        with pytest.raises(ValueError, match="signature|truncated"):
            bmp_decode(b"BM1234")

    def test_tiff_roundtrip_and_byte_orders(self):
        """Baseline-TIFF codec: LE RGB round-trip vs the fixture
        encoder, a hand-built big-endian grayscale file (inline SHORT
        values are left-justified in BE), WhiteIsZero inversion, and
        loud raises for compressed / tiled / non-8-bit streams."""
        import struct

        import numpy as np

        from zdb_spark.operators.multimodal import (tiff_decode,
                                                    tiff_encode)

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
        exp = round(float(
            (0.299 * px[:, :, 0].mean() + 0.587 * px[:, :, 1].mean()
             + 0.114 * px[:, :, 2].mean()) / 255.0), 6)
        blob = tiff_encode(px)
        fmt, w, h, nch, luma = tiff_decode(blob)
        assert (fmt, w, h, nch) == ("tiff", 11, 9, 3)
        assert abs(luma - exp) <= 1e-6

        def be_gray(photometric):
            w_, h_ = 4, 3
            data = bytes(range(w_ * h_))
            n = 6
            data_off = 8 + 2 + n * 12 + 4

            def short_tag(tid, v):
                return struct.pack(">HHII", tid, 3, 1, v << 16)

            ifd = struct.pack(">H", n)
            ifd += short_tag(256, w_) + short_tag(257, h_)
            ifd += short_tag(259, 1) + short_tag(262, photometric)
            ifd += struct.pack(">HHII", 273, 4, 1, data_off)
            ifd += struct.pack(">HHII", 279, 4, 1, len(data))
            ifd += struct.pack(">I", 0)
            return b"MM\x00*" + struct.pack(">I", 8) + ifd + data

        fmt, gw, gh, nch, luma = tiff_decode(be_gray(1))
        assert (fmt, gw, gh, nch) == ("tiff", 4, 3, 1)
        mean = sum(range(12)) / 12
        assert luma == round(mean / 255.0, 6)
        # WhiteIsZero: samples invert
        assert tiff_decode(be_gray(0))[4] == round(
            (255 - mean) / 255.0, 6)

        with pytest.raises(NotImplementedError, match="compression"):
            # 7 = JPEG-in-TIFF: still refused (LZW/PackBits decode
            # for real since round 15 — TestTiffCompression)
            tiff_decode(blob.replace(
                struct.pack("<HHII", 259, 3, 1, 1),
                struct.pack("<HHII", 259, 3, 1, 7), 1))
        with pytest.raises(NotImplementedError, match="tiled"):
            tiff_decode(blob.replace(
                struct.pack("<HHII", 279, 4, 1, 9 * 11 * 3),
                struct.pack("<HHII", 322, 4, 1, 9 * 11 * 3), 1))
        with pytest.raises(ValueError, match="signature"):
            tiff_decode(b"not a tiff")

    def test_tiff_lzw_and_packbits(self):
        """Round-15 TIFF compression support: LZW (TIFF 6.0 §13,
        early-change width timing) with and without the horizontal
        predictor, and per-row PackBits — round-trips through the
        extended fixture writer, plus raw-codec edge cases (KwKwK,
        the 12-bit table reset, bombs)."""
        import numpy as np

        from zdb_spark.operators.multimodal import (_packbits_decode,
                                                    _packbits_encode,
                                                    _tiff_lzw_decode,
                                                    _tiff_lzw_encode,
                                                    tiff_decode,
                                                    tiff_encode)

        rng = np.random.default_rng(5)
        px = (rng.integers(0, 40, (17, 13, 3), dtype=np.uint8) * 6)
        ref = tiff_decode(tiff_encode(px))
        for comp, pred in [("lzw", 1), ("lzw", 2), ("packbits", 1),
                           ("deflate", 1), ("deflate", 2)]:
            got = tiff_decode(tiff_encode(px, compression=comp,
                                          predictor=pred))
            assert got == ref, (comp, pred)

        # raw LZW: KwKwK (aaa...), width bumps, 12-bit reset
        for data in (b"", b"a", b"aaaaaa", bytes(range(256)) * 40,
                     bytes(rng.integers(0, 256, 60000,
                                        dtype=np.uint8))):
            enc = _tiff_lzw_encode(data)
            assert _tiff_lzw_decode(enc, max(len(data), 1)) == data
        # bomb cap: a stream expanding past cap raises
        big = _tiff_lzw_encode(b"\x00" * 10000)
        with pytest.raises(ValueError, match="cap"):
            _tiff_lzw_decode(big, 100)
        with pytest.raises(ValueError, match="truncated"):
            _tiff_lzw_decode(big[:-4], 100000)
        # packbits: runs, literals, the 128 no-op, truncation
        for data in (b"", b"x", b"ab" * 100, b"z" * 300):
            assert _packbits_decode(_packbits_encode(data),
                                    len(data)) == data
        assert _packbits_decode(b"\x80\x00x", 1) == b"x"   # no-op tag
        with pytest.raises(ValueError, match="truncated"):
            _packbits_decode(b"\x05ab", 6)
        # predictor plumbing refusals
        with pytest.raises(ValueError, match="predictor"):
            tiff_encode(px, compression="packbits", predictor=2)
        with pytest.raises(ValueError, match="compression"):
            tiff_encode(px, compression="jpeg")

    def test_tiff_lzw_vs_libtiff_ground_truth(self):
        """Cross-validation against the SYSTEM libtiff (when present):
        libtiff-written LZW / LZW+predictor / PackBits files decode
        pixel-exactly here, and libtiff reads this writer's files back
        pixel-exactly — both directions, the timing-sensitive
        early-change convention included.  Skips where libtiff.so is
        not installed (same pattern as the ffmpeg guards)."""
        import ctypes
        import tempfile

        import numpy as np

        try:
            t = ctypes.CDLL("libtiff.so.6")
        except OSError:
            pytest.skip("libtiff.so.6 not available")
        t.TIFFOpen.restype = ctypes.c_void_p
        t.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
        for fn, res in ((t.TIFFWriteScanline, ctypes.c_int),
                        (t.TIFFReadScanline, ctypes.c_int)):
            fn.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                           ctypes.c_uint32, ctypes.c_uint16]
            fn.restype = res
        t.TIFFClose.argtypes = [ctypes.c_void_p]
        t.TIFFSetErrorHandler(None)
        t.TIFFSetWarningHandler(None)

        from zdb_spark.operators.multimodal import (tiff_decode,
                                                    tiff_encode)

        rng = np.random.default_rng(11)
        h, w = 80, 70          # crosses the 9->10->11 bit widths
        px = (rng.integers(0, 40, (h, w, 3), dtype=np.uint8) * 6)

        def lib_write(path, comp, pred):
            tif = t.TIFFOpen(path.encode(), b"w")
            assert tif
            setf = t.TIFFSetField
            for tag, val, typ in [
                    (256, w, ctypes.c_uint32), (257, h, ctypes.c_uint32),
                    (258, 8, ctypes.c_uint16), (259, comp, ctypes.c_uint16),
                    (262, 2, ctypes.c_uint16), (277, 3, ctypes.c_uint16),
                    (278, h, ctypes.c_uint32), (284, 1, ctypes.c_uint16)]:
                setf(ctypes.c_void_p(tif), ctypes.c_uint32(tag), typ(val))
            if pred == 2:
                setf(ctypes.c_void_p(tif), ctypes.c_uint32(317),
                     ctypes.c_uint16(2))
            for y in range(h):
                row = px[y].tobytes()
                buf = ctypes.create_string_buffer(row, len(row))
                assert t.TIFFWriteScanline(ctypes.c_void_p(tif), buf,
                                           y, 0) == 1
            t.TIFFClose(ctypes.c_void_p(tif))

        def lib_read(path):
            tif = t.TIFFOpen(path.encode(), b"r")
            assert tif
            buf = ctypes.create_string_buffer(w * 3)
            rows = []
            for y in range(h):
                assert t.TIFFReadScanline(ctypes.c_void_p(tif), buf,
                                          y, 0) == 1
                rows.append(bytes(buf.raw))
            t.TIFFClose(ctypes.c_void_p(tif))
            return np.frombuffer(b"".join(rows),
                                 dtype=np.uint8).reshape(h, w, 3)

        exp = tiff_decode(tiff_encode(px))
        for comp_id, comp, pred in [(5, "lzw", 1), (5, "lzw", 2),
                                    (32773, "packbits", 1),
                                    (8, "deflate", 1)]:
            p = tempfile.mktemp(suffix=".tif")
            lib_write(p, comp_id, pred)
            assert tiff_decode(open(p, "rb").read()) == exp, (comp,
                                                              pred)
            p2 = tempfile.mktemp(suffix=".tif")
            with open(p2, "wb") as f:
                f.write(tiff_encode(px, compression=comp,
                                    predictor=pred))
            assert np.array_equal(lib_read(p2), px), (comp, pred)

    def test_webp_probe_all_variants(self):
        """WebP container probe (no pixel decode): lossy VP8 dims from
        the keyframe block, lossless VP8L from the 28-bit size field,
        extended VP8X from the canvas fields; loud raises otherwise."""
        import struct

        from zdb_spark.operators.multimodal import webp_probe

        def riff(fourcc, chunk):
            inner = fourcc + struct.pack("<I", len(chunk)) + chunk
            return (b"RIFF" + struct.pack("<I", 4 + len(inner))
                    + b"WEBP" + inner)

        vp8 = bytes(3) + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
        assert webp_probe(riff(b"VP8 ", vp8)) == ("webp", "vp8",
                                                  640, 480)
        bits = 639 | (479 << 14)
        vp8l = b"\x2f" + struct.pack("<I", bits)
        assert webp_probe(riff(b"VP8L", vp8l)) == ("webp", "vp8l",
                                                   640, 480)
        vp8x = (bytes(4) + (799).to_bytes(3, "little")
                + (599).to_bytes(3, "little"))
        assert webp_probe(riff(b"VP8X", vp8x)) == ("webp", "vp8x",
                                                   800, 600)
        with pytest.raises(ValueError, match="RIFF/WEBP"):
            webp_probe(b"RIFF1234WAVEdata")
        with pytest.raises(ValueError, match="start code"):
            webp_probe(riff(b"VP8 ", bytes(10)))

    def test_bmp_through_decode_images_auto(self, spark):
        import numpy as np

        from zdb_spark.operators.multimodal import bmp_encode, \
            decode_images, png_encode

        px = np.full((5, 6, 3), 200, dtype=np.uint8)
        from zdb_spark.operators.multimodal import tiff_encode
        rows = [(1, bytearray(bmp_encode(px))),
                (2, bytearray(png_encode(4, 4, (10, 20, 30), 2))),
                (3, bytearray(tiff_encode(px)))]
        df = spark.createDataFrame(rows, "id long, blob binary")
        got = {r.id: (r.fmt, r.width, r.height) for r in
               decode_images(df, decoder="auto").collect()}
        assert got[1] == ("bmp", 6, 5)
        assert got[2][0] == "png"
        assert got[3] == ("tiff", 6, 5)

    def test_wav_roundtrip_mono_stereo(self):
        from zdb_spark.operators.multimodal import wav_decode, wav_encode

        got = wav_decode(wav_encode(16000, 1, [1000] * 96))
        assert got == ("wav", 16000, 1, 96, round(96 / 16000, 6),
                       round(1000 / 32768, 6))
        # stereo, alternating sign: same RMS magnitude, frames = n/2
        f, sr, ch, nf, dur, rms = wav_decode(
            wav_encode(8000, 2, [500, -500] * 64))
        assert (sr, ch, nf) == (8000, 2, 64)
        assert rms == round(500 / 32768, 6)

    def test_wav_decode_rejects_garbage(self):
        import struct

        from zdb_spark.operators.multimodal import wav_decode, wav_encode

        with pytest.raises(ValueError, match="RIFF"):
            wav_decode(b"not audio")
        with pytest.raises(ValueError, match="truncated"):
            wav_decode(wav_encode(8000, 1, [0, 0])[:20])
        # 8-bit PCM is honestly unsupported, not silently misread
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 2) + b"\x00\x00")
        with pytest.raises(ValueError, match="only 16-bit PCM"):
            wav_decode(b"RIFF" + struct.pack("<I", len(body)) + body)
        with pytest.raises(ValueError, match="whole number of frames"):
            wav_encode(8000, 2, [1, 2, 3])

    def test_wav_resample_decimation_exact(self):
        from zdb_spark.operators.multimodal import (_wav_samples,
                                                    wav_encode,
                                                    wav_features,
                                                    wav_resample)

        m, v, nf = 3, 1001, 10
        mono = [v if (f // m) % 2 == 0 else -v for f in range(nf)]
        b = wav_encode(8000, 1, mono)
        assert wav_features(b) == (8000, 1, 10, round(v / 32768, 6),
                                   round(v / 32768, 6), round(3 / 9, 6))
        r = wav_resample(b, 2)
        sr, ch, kept = _wav_samples(r)
        assert (sr, ch) == (4000, 1)
        assert list(kept) == [mono[2 * f] for f in range(5)]
        assert wav_features(r)[5] == 0.5        # zcr of decimated signal
        # stereo keeps whole frames; invalid factor rejected
        st = wav_resample(wav_encode(12000, 2,
                                     [10, -20, 30, -40, 50, -60]), 3)
        assert _wav_samples(st) == (4000, 2, (10, -20))
        with pytest.raises(ValueError, match="divide"):
            wav_resample(b, 7)

    def test_resample_audio_distributed(self, spark):
        from zdb_spark.operators.multimodal import (audio_features,
                                                    resample_audio,
                                                    wav_encode)

        rows = [Row(id=i, blob=wav_encode(8000, 1,
                                          [(1000 + i) * (-1) ** f
                                           for f in range(20)]))
                for i in range(3)]
        out = {r["id"]: r for r in
               audio_features(resample_audio(
                   spark.createDataFrame(rows), 2, "blob", "id"),
                   "blob", "id").collect()}
        for i in range(3):
            # decimating an every-frame alternation yields constant sign
            assert out[i]["zcr"] == 0.0
            assert out[i]["n_frames"] == 10
            assert out[i]["sample_rate"] == 4000
            assert out[i]["peak"] == round((1000 + i) / 32768, 6)

    def test_decode_audio_distributed(self, spark):
        from zdb_spark.operators.multimodal import decode_audio, wav_encode

        rows = [Row(id=i, blob=wav_encode(8000 * (i + 1), 1,
                                          [2001 + 2 * i] * 80))
                for i in range(3)]
        out = {r["id"]: r for r in
               decode_audio(spark.createDataFrame(rows), "blob", "id",
                            decoder="wav").collect()}
        for i in range(3):
            assert out[i]["sample_rate"] == 8000 * (i + 1)
            assert out[i]["n_frames"] == 80
            assert out[i]["rms"] == round((2001 + 2 * i) / 32768, 6)
        with pytest.raises(ValueError, match="unknown decoder"):
            decode_audio(spark.createDataFrame(rows), "blob", "id",
                         decoder="mp3")

    def test_decode_images_png_distributed(self, spark):
        from zdb_spark.operators.multimodal import png_encode

        rows = [Row(id=i, blob=png_encode(5 + i, 6, (i * 40 % 256,), 0))
                for i in range(4)]
        out = {r["id"]: r for r in
               multimodal.decode_images(spark.createDataFrame(rows),
                                        "blob", "id",
                                        decoder="png").collect()}
        for i in range(4):
            assert out[i]["width"] == 5 + i
            assert out[i]["channels"] == 1
            assert out[i]["mean_luma"] == round(i * 40 % 256 / 255.0, 6)

    def test_png_resize_nearest_neighbor_exact(self):
        from zdb_spark.operators.multimodal import (_png_pixels,
                                                    png_encode_pixels,
                                                    png_resize)

        px = bytes(bytearray([(x * 10 + y) % 256
                              for y in range(4) for x in range(6)]))
        g = png_encode_pixels(6, 4, 1, px)
        out = _png_pixels(png_resize(g, 3, 2))[4]
        exp = [px[(y2 * 4 // 2) * 6 + (x2 * 6 // 3)]
               for y2 in range(2) for x2 in range(3)]
        assert list(out) == exp
        # upscale keeps solid images solid; palette inputs come out RGB
        from zdb_spark.operators.multimodal import png_decode, png_encode

        up = png_resize(png_encode(3, 3, (9, 8, 7), 2), 10, 6)
        assert png_decode(up)[1:4] == (10, 6, 3)
        with pytest.raises(ValueError, match="positive"):
            png_resize(g, 0, 5)

    def test_png_features_gradient(self):
        from zdb_spark.operators.multimodal import (png_encode_pixels,
                                                    png_features)

        # 2x1 grey: values 0 and 255 — mean 127.5/255, std 127.5/255,
        # exactly one dark pixel
        f = png_features(png_encode_pixels(2, 1, 1, bytes([0, 255])))
        assert f[:4] == (2, 1, 1, 2.0)
        assert f[4] == round(127.5 / 255, 6)
        assert f[5] == round(127.5 / 255, 6)
        assert f[6] == 0.5

    def test_resize_and_features_distributed(self, spark):
        from zdb_spark.operators.multimodal import (image_features,
                                                    png_encode,
                                                    resize_images)

        rows = [Row(id=i, blob=png_encode(6 + i, 8, (i * 30 % 256,), 0))
                for i in range(4)]
        df = spark.createDataFrame(rows)
        feats = {r["id"]: r for r in
                 image_features(resize_images(df, 5, 4), "blob",
                                "id").collect()}
        for i in range(4):
            assert (feats[i]["width"], feats[i]["height"]) == (5, 4)
            assert feats[i]["mean_luma"] == round(i * 30 % 256 / 255, 6)
            assert feats[i]["std_luma"] == 0.0

    def test_lzw_roundtrip_growth_reset_kwkwk(self):
        import random

        from zdb_spark.operators.multimodal import (_lzw_compress,
                                                    _lzw_decompress)

        rng = random.Random(7)
        for mcs in (2, 4, 8):
            for n in (0, 1, 5, 300, 20000):   # 20000 forces 12-bit + reset
                data = bytes(rng.randrange(1 << mcs) for _ in range(n))
                assert _lzw_decompress(_lzw_compress(data, mcs),
                                       mcs) == data
        # long single-symbol runs hit the KwKwK (code == next entry) path
        data = b"\x01" * 10000 + b"\x00\x01\x00" * 500
        assert _lzw_decompress(_lzw_compress(data, 2), 2) == data

    def test_gif_roundtrip_animated(self):
        from zdb_spark.operators.multimodal import (gif_decode, gif_encode,
                                                    gif_frames)

        frames = [((10, 200, 30), 5), ((250, 0, 9), 11), ((1, 2, 3), 7)]
        blob = gif_encode(13, 9, frames)
        assert blob[:6] == b"GIF89a"
        assert gif_decode(blob) == ("gif", "lzw", 13, 9, 3,
                                    round(23 / 100, 6))
        for (idx, w, h, d, luma), ((r, g, b), dly) in zip(gif_frames(blob),
                                                          frames):
            assert (w, h, d) == (13, 9, dly)
            assert luma == round((0.299 * r + 0.587 * g + 0.114 * b)
                                 / 255.0, 6)

    def test_gif_decodes_third_party_files(self):
        """Spec conformance beyond round-trip: system doc GIFs (written by
        real encoders; global color tables, interlace, 8-bit LZW) must
        parse with pixel counts matching the frame dimensions."""
        import glob

        from zdb_spark.operators.multimodal import _gif_parse, gif_decode

        paths = sorted(glob.glob("/usr/share/doc/*/html/*.gif"))
        if not paths:
            pytest.skip("no system GIFs available")
        for p in paths:
            blob = open(p, "rb").read()
            fmt, _codec, w, h, nf, _dur = gif_decode(blob)
            assert fmt == "gif" and w > 0 and h > 0 and nf >= 1
            for fr in _gif_parse(blob)[2]:
                assert len(fr["pixels"]) == fr["w"] * fr["h"]

    def test_gif_decode_rejects_garbage(self):
        from zdb_spark.operators.multimodal import gif_decode, gif_encode

        with pytest.raises(ValueError, match="not a GIF"):
            gif_decode(b"definitely not a gif")
        with pytest.raises(Exception):
            gif_decode(gif_encode(4, 4, [((1, 2, 3), 5)])[:24])

    def test_decode_video_frames_distributed(self, spark):
        from zdb_spark.operators.multimodal import (decode_video,
                                                    decode_video_frames,
                                                    gif_encode)

        rows = [Row(id=i, blob=gif_encode(
                    4 + i, 5, [((i * 50 % 256, 0, 0), 3 + f)
                               for f in range(1 + i)]))
                for i in range(1, 4)]
        df = spark.createDataFrame(rows)
        vid = {r["id"]: r for r in
               decode_video(df, "blob", "id", decoder="gif").collect()}
        for i in range(1, 4):
            assert vid[i]["width"] == 4 + i
            assert vid[i]["n_frames"] == 1 + i
        fr = decode_video_frames(df, "blob", "id").collect()
        assert len(fr) == sum(1 + i for i in range(1, 4))
        with pytest.raises(ValueError, match="unknown decoder"):
            decode_video(df, "blob", "id", decoder="avi")
        # 'mp4' is a REAL decoder since round 12 — a GIF blob through it
        # fails the ftyp magic check, not the decoder lookup
        with pytest.raises(Exception, match="ftyp"):
            decode_video(df, "blob", "id", decoder="mp4").collect()

    def test_ffmpeg_decoder_absent_raises_loudly(self):
        """Without ffprobe the ffmpeg decoder must fail with a clear
        NotImplementedError at first use, not silent zeros."""
        from zdb_spark.operators import multimodal as mm

        if mm.ffmpeg_available():
            pytest.skip("ffprobe present — covered by the decode test")
        with pytest.raises(NotImplementedError, match="ffprobe"):
            mm.ffmpeg_video_decode(b"\x00" * 16)

    def test_ffmpeg_decoder_on_gif(self, spark):
        """With ffmpeg installed, decoder='ffmpeg' must agree with the
        stdlib GIF codec on dimensions and frame count (skipped in this
        sandbox, which has no ffmpeg)."""
        from zdb_spark.operators import multimodal as mm

        if not mm.ffmpeg_available():
            pytest.skip("ffprobe not on PATH")
        blob = mm.gif_encode(6, 5, [((10, 20, 30), 4), ((40, 50, 60), 4)])
        df = spark.createDataFrame([Row(id=1, blob=blob)])
        got = mm.decode_video(df, "blob", "id",
                              decoder="ffmpeg").collect()[0]
        assert (got["width"], got["height"], got["n_frames"]) == (6, 5, 2)

    def test_ffmpeg_decoder_on_mp4(self, spark, tmp_path):
        """The mp4 path proper, wherever ffmpeg exists: the test builds
        its OWN fixture at run time (3 deterministic rgb24 raw frames →
        mpeg4-in-mp4, faststart-muxed so stdin probing works) with the
        same ffmpeg install, then decode_video(decoder='ffmpeg') must
        return exactly the geometry the encode specified.  Fixture-by-
        encode beats a vendored binary blob: nothing opaque in the
        repo, and the fixture always matches the local mux behavior.
        Skipped only where ffmpeg itself is unreachable (this sandbox:
        no ffmpeg and installs are off — recorded in SCALE.md §video)."""
        import shutil
        import subprocess

        from zdb_spark.operators import multimodal as mm

        if not mm.ffmpeg_available():
            pytest.skip("ffprobe not on PATH")
        ffmpeg = shutil.which("ffmpeg")
        if ffmpeg is None:
            pytest.skip("ffprobe present but ffmpeg encoder missing")
        w, h, n = 16, 12, 3
        raw = bytes((x * 7 + y * 3 + f * 11) % 256
                    for f in range(n) for y in range(h)
                    for x in range(w) for _ in range(3))
        out = tmp_path / "fixture.mp4"
        enc = subprocess.run(
            [ffmpeg, "-v", "error", "-f", "rawvideo", "-pix_fmt",
             "rgb24", "-s", f"{w}x{h}", "-r", "5", "-i", "-",
             "-c:v", "mpeg4", "-movflags", "+faststart", str(out)],
            input=raw, capture_output=True, timeout=60)
        assert enc.returncode == 0, enc.stderr[:300]
        df = spark.createDataFrame([Row(id=1, blob=out.read_bytes())])
        got = mm.decode_video(df, "blob", "id",
                              decoder="ffmpeg").collect()[0]
        assert (got["width"], got["height"], got["n_frames"]) == (w, h, n)
        assert got["fmt"].startswith(("mov", "mp4"))
        assert got["codec"] == "mpeg4"
        assert abs(got["duration_s"] - n / 5.0) < 0.3


class TestJpegCodec:
    """Baseline JPEG codec (jpeg.py — numpy only, ITU-T T.81): encode/
    decode roundtrips within quantization error across subsampling and
    restart layouts, loud rejection of progressive streams, and the
    Spark decode/resize integration."""

    def _gradient(self, h=48, w=64):
        import numpy as np

        yy, xx = np.mgrid[0:h, 0:w]
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[..., 0] = (xx * 4) % 256
        px[..., 1] = (yy * 5) % 256
        px[..., 2] = ((xx + yy) * 3) % 256
        return px

    def test_roundtrip_444_420_restart(self):
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        px = self._gradient()
        for sub, bound in (("444", 4.0), ("420", 10.0)):
            for ri in (0, 2):
                enc = jpeg_encode_pixels(px, quality=90, subsampling=sub,
                                         restart_interval=ri)
                dec = jpeg_decode_pixels(enc)
                assert dec.shape == px.shape
                err = np.abs(dec.astype(int) - px.astype(int)).mean()
                assert err < bound, (sub, ri, err)

    def test_grayscale_and_solid(self):
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode,
                                              jpeg_decode_pixels,
                                              jpeg_encode,
                                              jpeg_encode_pixels)

        smooth = np.tile(np.linspace(0, 255, 64, dtype=np.uint8), (32, 1))
        dec = jpeg_decode_pixels(jpeg_encode_pixels(smooth, quality=95))
        assert dec.shape == smooth.shape
        assert np.abs(dec.astype(int) - smooth.astype(int)).mean() < 2
        fmt, w, h, c, luma = jpeg_decode(jpeg_encode(20, 12, (128,)))
        assert (fmt, w, h, c) == ("jpeg", 20, 12, 1)
        assert abs(luma - 128 / 255) < 0.03
        fmt, w, h, c, _ = jpeg_decode(jpeg_encode(9, 7, (10, 200, 60)))
        assert (fmt, w, h, c) == ("jpeg", 9, 7, 3)  # non-multiple-of-8

    def test_unsupported_codings_rejected_loudly(self):
        """Arithmetic coding (SOF9) still raises NotImplementedError;
        a BASELINE scan mislabeled as progressive (SOF2 with a full
        0..63 band in one DC-position scan) is spec-invalid and raises
        ValueError rather than silently mis-decoding."""
        import pytest as _pt

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode)

        blob = bytearray(jpeg_encode(16, 16, (50,)))
        idx = bytes(blob).find(b"\xff\xc0")
        blob[idx + 1] = 0xC9                      # SOF0 -> SOF9
        with _pt.raises(NotImplementedError, match="SOF9"):
            jpeg_decode_pixels(bytes(blob))
        blob[idx + 1] = 0xC2                      # SOF0 -> SOF2
        with _pt.raises(ValueError, match="Se=0"):
            jpeg_decode_pixels(bytes(blob))
        with _pt.raises(ValueError, match="SOI"):
            jpeg_decode_pixels(b"not a jpeg")

    def test_decode_images_jpeg_and_auto(self, spark):
        from zdb_spark.operators.jpeg import jpeg_encode
        from zdb_spark.operators.multimodal import (decode_images,
                                                    gif_encode,
                                                    png_encode)

        rows = [(1, jpeg_encode(24, 16, (100, 150, 200))),
                (2, jpeg_encode(8, 8, (30,)))]
        df = spark.createDataFrame(rows, "id long, blob binary")
        out = {r.id: r for r in decode_images(
            df, "blob", "id", decoder="jpeg").collect()}
        assert (out[1].fmt, out[1].width, out[1].height,
                out[1].channels) == ("jpeg", 24, 16, 3)
        assert out[2].channels == 1
        # auto: mixed png/jpeg/gif corpus, every format really decoded
        mixed = spark.createDataFrame(
            [(1, png_encode(5, 4, (9, 8, 7), 2)),
             (2, jpeg_encode(16, 16, (128,))),
             (3, gif_encode(6, 3, [((255, 0, 0), 4)]))],
            "id long, blob binary")
        got = {r.id: r.fmt for r in decode_images(
            mixed, "blob", "id", decoder="auto").collect()}
        assert got == {1: "png", 2: "jpeg", 3: "gif"}

    def test_resize_images_handles_jpeg(self, spark):
        from zdb_spark.operators.jpeg import jpeg_encode
        from zdb_spark.operators.multimodal import (decode_images,
                                                    png_encode,
                                                    resize_images)

        df = spark.createDataFrame(
            [(1, jpeg_encode(32, 24, (200, 40, 90))),
             (2, png_encode(10, 10, (1, 2, 3), 2))],
            "id long, blob binary")
        resized = resize_images(df, 7, 5, "blob", "id")
        out = {r.id: r for r in decode_images(
            resized, "blob", "id", decoder="auto").collect()}
        assert (out[1].fmt, out[1].width, out[1].height) == ("jpeg", 7, 5)
        assert (out[2].fmt, out[2].width, out[2].height) == ("png", 7, 5)


class TestParagraphDedup:
    def test_drops_later_duplicates_and_rebuilds(self, spark):
        from zdb_spark.operators.dedup import dedup_paragraphs

        block_a = " ".join(f"a{j}" for j in range(4))
        block_b = " ".join(f"b{j}" for j in range(4))
        block_c = " ".join(f"c{j}" for j in range(4))
        docs = spark.createDataFrame(
            [(1, f"{block_a} {block_b}"),        # both original
             (2, f"{block_a} {block_c}"),        # first para dup of doc1
             (3, f"{block_b} {block_b}"),        # dup of doc1 + self-dup
             (4, block_a)],                      # fully duplicate doc
            "doc_id long, text string")
        out = {r["id"]: r for r in
               dedup_paragraphs(docs, "text", "doc_id",
                                para_tokens=4).collect()}
        assert out[1]["clean_text"] == f"{block_a} {block_b}"
        assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
        assert out[2]["clean_text"] == block_c
        assert (out[3]["n_paras"], out[3]["n_kept"]) == (2, 0)
        assert out[3]["clean_text"] == ""
        assert (out[4]["n_paras"], out[4]["n_kept"]) == (1, 0)

    def test_string_doc_ids_supported(self, spark):
        """The first-occurrence election is a struct (id, position) min,
        so string/UUID ids work — the arithmetic composite key silently
        nulled them out and dropped every paragraph (review finding)."""
        from zdb_spark.operators.dedup import dedup_paragraphs

        docs = spark.createDataFrame(
            [("doc-a", "x1 x2 x1 x2"), ("doc-b", "x1 x2 y1 y2")],
            "doc_id string, text string")
        out = {r["id"]: r for r in
               dedup_paragraphs(docs, "text", "doc_id",
                                para_tokens=2).collect()}
        assert out["doc-a"]["n_kept"] == 1          # self-dup dropped
        assert out["doc-b"]["n_kept"] == 1          # cross-doc dup dropped
        assert out["doc-b"]["clean_text"] == "y1 y2"

    def test_rebuild_preserves_case_dedup_is_case_insensitive(self, spark):
        from zdb_spark.operators.dedup import dedup_paragraphs

        docs = spark.createDataFrame(
            [(1, "The API returns JSON"), (2, "the api returns json")],
            "doc_id long, text string")
        out = {r["id"]: r for r in
               dedup_paragraphs(docs, "text", "doc_id",
                                para_tokens=4).collect()}
        # doc 2's block deduplicates against doc 1's case-variant, and
        # the survivor keeps its ORIGINAL casing
        assert out[1]["clean_text"] == "The API returns JSON"
        assert out[2]["n_kept"] == 0

    def test_short_tail_paragraph_kept_distinct(self, spark):
        from zdb_spark.operators.dedup import dedup_paragraphs

        docs = spark.createDataFrame(
            [(1, "w1 w2 w3 w4 tail"), (2, "w1 w2 w3 w4")],
            "doc_id long, text string")
        out = {r["id"]: r for r in
               dedup_paragraphs(docs, "text", "doc_id",
                                para_tokens=4).collect()}
        # doc2's only para duplicates doc1's first block exactly
        assert out[1]["n_kept"] == 2 and out[2]["n_kept"] == 0


class TestLogregTrain:
    def test_learns_separating_weights(self, spark):
        """Planted separable corpus: 'English' docs are stopword-dense,
        'other' docs have none — the stopword-share weight must come out
        positive and dominant, and predictions must separate."""
        import math

        from zdb_spark.operators.text import (logreg_features,
                                              train_quality_logreg)

        rows = ([(i, "the and of to in is that it for you", "en")
                 for i in range(50)]
                + [(i + 50, "zzz qqq xxx www vvv uuu ttt sss", "xx")
                   for i in range(50)])
        docs = spark.createDataFrame(rows,
                                     "doc_id long, text string, lang string")
        w = train_quality_logreg(
            docs, "text",
            label_expr=F.when(F.col("lang") == "en", F.lit(1.0))
                        .otherwise(F.lit(0.0)),
            n_iters=8, lr=2.0)
        assert w[3] > 0.5, w          # stopword share drives the label
        # predictions separate the classes
        feats = logreg_features(
            docs, "text",
            F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)))
        for r in feats.collect():
            m = sum(wj * xj for wj, xj in
                    zip(w, [r["x0"], r["x1"], r["x2"], r["x3"]]))
            p = 1.0 / (1.0 + math.exp(-m))
            assert (p > 0.5) == (r["y"] == 1.0), (p, r)

    def test_training_deterministic_across_layout(self, spark):
        from zdb_spark.operators.text import train_quality_logreg

        rows = [(i, f"the quick doc {i} and some more text for it",
                 "en" if i % 3 else "de") for i in range(60)]
        docs = spark.createDataFrame(rows,
                                     "doc_id long, text string, lang string")
        lbl = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
        w1 = train_quality_logreg(docs, "text", label_expr=lbl, n_iters=3)
        w2 = train_quality_logreg(docs.repartition(13), "text",
                                  label_expr=lbl, n_iters=3)
        assert w1 == w2


class TestTokenize:
    def test_train_bpe_hand_worked_example(self, spark):
        """Sennrich's 'low/lower' example, worked by hand: pair counts
        (l,o)=3 (o,w)=3 tie -> lexicographic, then (lo,w), (low,EOW),
        then all pairs hit count 1 and the (e,r) tie wins."""
        from zdb_spark.operators.tokenize import EOW, train_bpe

        docs = spark.createDataFrame([(1, "low low lower")],
                                     "doc_id long, text string")
        merges = train_bpe(docs, "text", n_merges=4, min_pair_count=1)
        assert merges == [("l", "o"), ("lo", "w"), ("low", EOW),
                          ("e", "r")]
        # with the default min_pair_count=2 training stops at 3 merges
        assert train_bpe(docs, "text", n_merges=4) == merges[:3]

    def test_apply_bpe_segments_exactly(self, spark):
        from zdb_spark.operators.tokenize import EOW, apply_bpe

        merges = [("l", "o"), ("lo", "w"), ("low", EOW), ("e", "r")]
        docs = spark.createDataFrame([(1, "Low  lower")],
                                     "doc_id long, text string")
        row = apply_bpe(docs, merges).collect()[0]
        assert row["tokens"] == [f"low{EOW}", "low", "er", EOW]
        assert row["n_tokens"] == 4

    def test_apply_bpe_chain_equals_udf(self, spark):
        """The codegen replace-chain and the greedy-rank pandas runtime
        must segment identically (they implement the same algorithm via
        different mechanics)."""
        from zdb_spark.operators.tokenize import (apply_bpe, apply_bpe_udf,
                                                  train_bpe)

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(
                ["the owner lowered the tone", "slow flower tower",
                 "near-duplicate near duplicate", "a bb ccc dddd",
                 "thethethe ererer", ""])],
            "doc_id long, text string")
        merges = train_bpe(docs, "text", n_merges=12, min_pair_count=1)
        a = {r["id"]: r["tokens"]
             for r in apply_bpe(docs, merges).collect()}
        b = {r["id"]: r["tokens"]
             for r in apply_bpe_udf(docs, merges).collect()}
        assert a == b

    def test_apply_bpe_udf_null_text_matches_chain(self, spark):
        """NULL text must propagate as NULL tokens on BOTH paths (the
        UDF once fabricated tokens for str(None) == 'none')."""
        from zdb_spark.operators.tokenize import apply_bpe, apply_bpe_udf

        docs = spark.createDataFrame([(1, None), (2, "none")],
                                     "doc_id long, text string")
        merges = [("n", "o"), ("no", "n"), ("non", "e")]
        a = {r["id"]: (r["tokens"], r["n_tokens"])
             for r in apply_bpe(docs, merges).collect()}
        b = {r["id"]: (r["tokens"], r["n_tokens"])
             for r in apply_bpe_udf(docs, merges).collect()}
        assert a[1] == (None, None) and b[1] == (None, None)
        assert a[2] == b[2] and a[2][0] is not None

    def test_control_chars_stripped_both_paths(self, spark):
        """\\x01-\\x03 are the chain path's structural delimiters; text
        containing them must be cleaned identically on BOTH apply paths
        (and in train) instead of silently corrupting token boundaries."""
        from zdb_spark.operators.tokenize import (apply_bpe, apply_bpe_udf,
                                                  train_bpe)

        dirty = "lo\x01wer \x02tone\x03 lower tone"
        docs = spark.createDataFrame([(1, dirty), (2, "lower tone")],
                                     "doc_id long, text string")
        merges = train_bpe(docs, "text", n_merges=6, min_pair_count=1)
        a = {r["id"]: (r["tokens"], r["n_tokens"])
             for r in apply_bpe(docs, merges).collect()}
        b = {r["id"]: (r["tokens"], r["n_tokens"])
             for r in apply_bpe_udf(docs, merges).collect()}
        assert a == b
        # the cleaned dirty row is exactly two of the clean row's words
        assert a[1][0] == a[2][0] + a[2][0]
        # no structural delimiter ever leaks into an emitted token
        assert all("\x01" not in t and "\x02" not in t
                   for toks, _ in a.values() for t in toks)

    def test_apply_bpe_udf_preserves_string_ids(self, spark):
        """The UDF path must carry the id column through untouched —
        string/UUID doc ids crashed it pre-fix (hard-coded int(i))."""
        from zdb_spark.operators.tokenize import apply_bpe, apply_bpe_udf

        docs = spark.createDataFrame(
            [("doc-a", "lower tone"), ("doc-b", "slow flower")],
            "doc_id string, text string")
        merges = [("l", "o"), ("lo", "w")]
        a = {r["id"]: r["tokens"] for r in apply_bpe(docs, merges).collect()}
        b = {r["id"]: r["tokens"]
             for r in apply_bpe_udf(docs, merges).collect()}
        assert a == b and set(a) == {"doc-a", "doc-b"}
        assert dict(apply_bpe_udf(docs, merges).dtypes)["id"] == "string"

    def test_train_bpe_deterministic(self, spark):
        from zdb_spark.operators.tokenize import train_bpe

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma doc{i % 7} alpha") for i in range(40)],
            "doc_id long, text string")
        m1 = train_bpe(docs, "text", n_merges=10)
        m2 = train_bpe(docs.repartition(7), "text", n_merges=10)
        assert m1 == m2 and len(m1) == 10


class TestSkew:
    def test_salted_agg_matches_unsalted(self, spark):
        # power-law keys: one key holds ~90% of rows
        rows = [Row(k="hot", v=float(i)) for i in range(900)] + \
               [Row(k=f"cold{i}", v=float(i)) for i in range(100)]
        df = spark.createDataFrame(rows)
        from zdb_spark.operators.skew import salted_agg

        got = {r["k"]: (r["n"], r["total"], r["mx"])
               for r in salted_agg(
                   df, ["k"],
                   {"n": ("v", "count"), "total": ("v", "sum"),
                    "mx": ("v", "max")}, n_salts=8).collect()}
        want = {r["k"]: (r["n"], r["total"], r["mx"])
                for r in df.groupBy("k")
                .agg(F.count("v").alias("n"), F.sum("v").alias("total"),
                     F.max("v").alias("mx")).collect()}
        assert got == want

    def test_non_algebraic_rejected(self, spark):
        from zdb_spark.operators.skew import salted_agg

        df = spark.createDataFrame([Row(k="a", v=1.0)])
        with pytest.raises(ValueError, match="non-algebraic"):
            salted_agg(df, ["k"], {"p50": ("v", "percentile")})


class TestBandsValidation:
    @pytest.mark.parametrize("bands", [0, -4, 5])
    @pytest.mark.parametrize("entry", [
        "minhash_signature", "minhash_lsh_pairs", "minhash_lsh_pairs_vs",
        "near_dup_clusters", "build_minhash_store"])
    def test_bands_must_divide_num_hashes(self, docs, tmp_path, entry,
                                          bands):
        """Every public banding entry point rejects a zero, negative or
        non-dividing ``bands`` with the same ValueError (``bands=0``
        used to surface as a ZeroDivisionError)."""
        calls = {
            "minhash_signature": lambda: dedup.minhash_signature(
                docs, num_hashes=64, bands=bands),
            "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
                docs, num_hashes=64, bands=bands),
            "minhash_lsh_pairs_vs": lambda: dedup.minhash_lsh_pairs_vs(
                docs, docs, num_hashes=64, bands=bands),
            "near_dup_clusters": lambda: dedup.near_dup_clusters(
                docs, num_hashes=64, bands=bands),
            "build_minhash_store": lambda: dedup.build_minhash_store(
                docs, str(tmp_path / "store"), num_hashes=64,
                bands=bands),
        }
        with pytest.raises(ValueError, match="positive divisor"):
            calls[entry]()


class TestClusters:
    def test_checkpoint_blocks_bounded(self, spark):
        """Superseded per-round localCheckpoints must be freed as the
        loop advances: a chain graph forcing ~11 rounds may leave at
        most the edges cache + the final checkpoint persisted (before
        the fix, every round's checkpoint stayed pinned — measured disk
        exhaustion on the 100x pair graph)."""
        def persistent_ids():
            m = spark.sparkContext._jsc.getPersistentRDDs()
            return {k for k in m.keySet().toArray()}

        pairs = spark.createDataFrame(
            [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(12)],
            "id_a string, id_b string")
        before = persistent_ids()
        out = dedup.duplicate_clusters(pairs, driver_threshold=0)
        assert out.where(F.col("cluster_id") == "d00").count() == 13
        leaked = persistent_ids() - before
        assert len(leaked) <= 2, f"{len(leaked)} persisted RDDs leaked"
        for h in getattr(out, "_zdb_cache_handles", []):
            h.unpersist()

    def test_release_frees_last_checkpoint(self, spark, docs):
        """release() after collecting the labels leaves no persisted RDD
        behind on the distributed path, the final round's
        localCheckpoint included."""
        def persistent_ids():
            m = spark.sparkContext._jsc.getPersistentRDDs()
            return set(m.keySet().toArray())

        # compare ids, not sizes: the per-round System.gc() lets the
        # ContextCleaner drop RDDs earlier tests left unreferenced
        docs.count()  # materialize the fixture's own cache first
        before = persistent_ids()
        out = dedup.near_dup_clusters(docs, driver_threshold=0)
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 6: 1}
        assert persistent_ids() - before
        dedup.release(out)
        assert persistent_ids() - before == set()

    def test_components_exact(self, spark):
        pairs = spark.createDataFrame(
            [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6),
             Row(id_a=8, id_b=9), Row(id_a=9, id_b=10)])
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(
                   pairs, driver_threshold=0).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}
        # the driver union-find fast path must give the identical answer
        fast = {r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(pairs).collect()}
        assert fast == got

    def test_long_chain_converges(self, spark):
        # a 12-node path graph needs several propagation rounds
        pairs = spark.createDataFrame(
            [Row(id_a=i, id_b=i + 1) for i in range(12)])
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(
                   pairs, driver_threshold=0).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 13

    def test_string_ids_multi_round(self, spark):
        # Regression: sum('lbl')-based convergence implicitly cast string
        # labels to NULL, declared convergence after round one, and
        # returned SPLIT components for any diameter>1 graph of UUID-ish
        # ids.  A path graph of string ids must still fully converge.
        ids = [f"doc-{c}" for c in "abcdefgh"]
        pairs = spark.createDataFrame(
            [Row(id_a=ids[i], id_b=ids[i + 1]) for i in range(len(ids) - 1)])
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(
                   pairs, driver_threshold=0).collect()}
        assert set(got.values()) == {"doc-a"}
        assert len(got) == len(ids)
        # fast path: same components, rounds reported as 0
        fast_df = dedup.duplicate_clusters(pairs)
        fast = {r["doc_id"]: r["cluster_id"] for r in fast_df.collect()}
        assert fast == got and fast_df._zdb_rounds == 0


class TestSearch:
    def test_bm25_hand_computed(self, spark):
        from zdb_spark.operators.search import bm25_topk, corpus_term_stats

        rows = [(1, "cat dog"), (2, "cat cat cat"), (3, "bird"),
                (4, "dog dog cat fish")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = bm25_topk(df, "cat", "text", "doc_id", k=10)
        got = {r["doc_id"]: r["bm25"] for r in out.collect()}
        # N=4, df(cat)=3, avgdl=10/4=2.5; idf=ln(1+1.5/3.5)
        import math
        idf = math.log(1 + 1.5 / 3.5)
        def score(tf, dl):
            return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5)), 6)
        assert got == {1: score(1, 2), 2: score(3, 3), 4: score(1, 4)}
        assert 3 not in got  # no match -> excluded
        # doc 2 (tf=3, short) must outrank the single-mention docs
        assert max(got, key=got.get) == 2

    def test_bm25_stats_reuse_and_ordering(self, spark):
        from zdb_spark.operators.search import bm25_topk, corpus_term_stats

        rows = [(i, "alpha beta " + "gamma " * (i % 3)) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stats = corpus_term_stats(df, ["alpha", "gamma"], "text")
        assert stats["n"] == 20 and stats["docfreq"]["alpha"] == 20
        a = bm25_topk(df, "gamma alpha", "text", "doc_id", k=5).collect()
        b = bm25_topk(df, "gamma alpha", "text", "doc_id", k=5,
                      stats=stats).collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        scores = [r["bm25"] for r in a]
        assert scores == sorted(scores, reverse=True) and len(a) == 5

    def test_empty_corpus_raises_cleanly(self, spark):
        from zdb_spark.operators.search import bm25_topk, corpus_term_stats

        empty = spark.createDataFrame([], "doc_id long, text string")
        with pytest.raises(ValueError, match="empty corpus"):
            corpus_term_stats(empty, ["cat"], "text")
        with pytest.raises(ValueError, match="empty corpus"):
            bm25_topk(empty, "cat", "text", "doc_id")

    def test_bm25_validation(self, spark):
        from zdb_spark.operators.search import bm25_topk

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bm25_topk(df, "   ", "text", "doc_id")


class TestIncrementalDedup:
    def test_matches_full_rerun_and_append_lifecycle(self, spark, tmp_path):
        """incremental(new) == full-batch pairs restricted to new docs;
        after append, a SECOND batch pairs against first-batch docs."""
        rows = [
            Row(doc_id=1, text="The quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="Completely different content about databases"),
            Row(doc_id=3, text="Another unrelated document entirely here"),
            # batch 1: near-dup of corpus doc 1 + a fresh doc
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog "),
            Row(doc_id=11, text="fresh content with no duplicate anywhere"),
            # batch 2: dup of BATCH-1 doc 11 (only findable post-append)
            Row(doc_id=20, text="fresh content with no duplicate anywhere!"),
        ]
        df = spark.createDataFrame(rows)
        corpus0 = df.where(F.col("doc_id") <= 3)
        batch1 = df.where(F.col("doc_id").isin(10, 11))
        batch2 = df.where(F.col("doc_id") == 20)
        store = str(tmp_path / "store")

        dedup.build_minhash_store(corpus0, store)
        inc1 = dedup.incremental_minhash_pairs(batch1, corpus0, store)
        got1 = {(r["id_a"], r["id_b"]) for r in inc1.collect()}
        full = dedup.minhash_lsh_pairs(df.where(F.col("doc_id") < 20))
        want1 = {(r["id_a"], r["id_b"]) for r in full.collect()
                 if r["id_a"] >= 10 or r["id_b"] >= 10}
        assert got1 == want1 and (1, 10) in got1

        dedup.append_minhash_store(batch1, store)
        corpus1 = df.where(F.col("doc_id") < 20)
        inc2 = dedup.incremental_minhash_pairs(batch2, corpus1, store)
        got2 = {(r["id_a"], r["id_b"]) for r in inc2.collect()}
        assert got2 == {(11, 20)}  # found against an APPENDED doc

    def test_changed_resubmission_judged_on_new_content(self, spark,
                                                        tmp_path):
        """A re-submitted id with CHANGED text must retire its stored
        band rows/signature: the old content must not generate
        candidates, and the new content decides pairs (review finding:
        stale rows made results a nondeterministic old/new mix)."""
        old_text = "alpha corpus doc about databases and storage engines"
        df = spark.createDataFrame(
            [Row(doc_id=1, text=old_text),
             Row(doc_id=2, text=old_text + "!")],     # near-dup of 1
        )
        store = str(tmp_path / "resub_store")
        dedup.build_minhash_store(df, store)
        # doc 1 resubmitted with UNRELATED text: it must no longer pair
        # with doc 2 (old content retired), and must pair with doc 3
        # (dup of the NEW content)
        resub = spark.createDataFrame(
            [Row(doc_id=1, text="totally different text now about gifs"),
             Row(doc_id=3, text="totally different text now about gifs!")])
        got = {(r["id_a"], r["id_b"]) for r in
               dedup.incremental_minhash_pairs(
                   resub, df.unionByName(resub), store).collect()}
        assert got == {(1, 3)}

    def test_torn_append_self_heals(self, spark, tmp_path, monkeypatch):
        """A staged batch left behind by a crash mid-publish (both
        _SUCCESS markers present) is completed IMMEDIATELY on the next
        store open (deferring it would leave sigs without band rows —
        silently missed pairs); an unfinished write (no markers) is
        discarded only once its staging tree goes stale — a fresh one
        may be a live appender's in-flight write."""
        import os
        import shutil

        text = "self heal store content block repeated here " * 2
        df = spark.createDataFrame([Row(doc_id=1, text=text)])
        store = str(tmp_path / "heal_store")
        dedup.build_minhash_store(df, store)
        batch = spark.createDataFrame([Row(doc_id=2, text=text + "!")])
        dedup.append_minhash_store(batch, store)
        # simulate the crash: drag doc 2's appended rows back into a
        # staging dir as a fully-written batch
        staging = os.path.join(store, "_staging", "torn")
        for sub in ("sigs", "banded"):
            os.makedirs(os.path.join(staging, sub))
            open(os.path.join(staging, sub, "_SUCCESS"), "w").close()
        # also plant an UNFINISHED batch (no _SUCCESS) — culled when stale
        dead = os.path.join(store, "_staging", "dead")
        os.makedirs(os.path.join(dead, "sigs"))
        # finished batches publish at once; fresh unfinished stay put
        dedup._store_params(store)
        assert not os.path.exists(staging)
        assert os.path.exists(dead)
        # ... until the unfinished tree crosses the staleness threshold
        monkeypatch.setattr(dedup, "_HEAL_STALE_S", 0.0)
        dedup._store_params(store)
        assert not os.path.exists(dead)
        assert not os.path.exists(os.path.join(store, "_staging"))
        # store still answers correctly after healing
        probe = spark.createDataFrame([Row(doc_id=9, text=text + "?")])
        got = {(r["id_a"], r["id_b"]) for r in
               dedup.incremental_minhash_pairs(
                   probe, df.unionByName(batch).unionByName(probe),
                   store).collect()}
        assert got == {(1, 9), (2, 9)}
        shutil.rmtree(store)

    def test_version_mismatch_refuses(self, spark, tmp_path):
        import json
        rows = [Row(doc_id=1, text="some corpus document text")]
        df = spark.createDataFrame(rows)
        store = str(tmp_path / "store")
        dedup.build_minhash_store(df, store)
        p = json.load(open(f"{store}/params.json"))
        p["version"] = "mh0"
        json.dump(p, open(f"{store}/params.json", "w"))
        with pytest.raises(ValueError, match="recipe"):
            dedup.incremental_minhash_pairs(df, df, store)


class TestAssignCentroids:
    def test_nearest_and_ties(self, spark):
        cents = [[1.0, 0.0], [0.0, 1.0]]
        rows = [(1, [2.0, 0.1]), (2, [0.1, 3.0]),
                (3, [1.0, 1.0]),   # equal dots -> tie -> lowest index
                (4, [0.0, 0.0])]   # all dots 0 -> tie -> lowest index
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r["centroid_id"] for r in
               similarity.assign_centroids(df, cents, "embedding").collect()}
        assert out == {1: 0, 2: 1, 3: 0, 4: 0}

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, [1.0])],
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError):
            similarity.assign_centroids(df, [], "embedding")

    def test_composes_with_ivf_training(self, spark):
        import numpy as np
        rng = np.random.RandomState(7)
        blob = lambda c, n: (rng.randn(n, 4) * 0.05 + c).tolist()
        rows = [(i, v) for i, v in enumerate(
            blob([1, 0, 0, 0], 40) + blob([0, 1, 0, 0], 40))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        assigned, cents = similarity.ivf_index(df, "embedding",
                                               n_centroids=2, iters=5)
        relabeled = similarity.assign_centroids(df, cents, "embedding")
        a = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
        b = {r["vec_id"]: r["centroid_id"] for r in relabeled.collect()}
        assert a == b  # assign_centroids IS ivf's assignment half
        # the two planted blobs land in two distinct clusters
        g0 = {a[i] for i in range(40)}
        g1 = {a[i] for i in range(40, 80)}
        assert len(g0) == 1 and len(g1) == 1 and g0 != g1


class TestSemanticDedup:
    def test_hand_built_cells_and_drops(self, spark):
        # two fixed cells; docs 1,2,3 near-parallel in cell 0 (complete
        # sim group -> keep 1, drop 2 and 3 pointing at 1); doc 4 alone
        # in cell 1; doc 5 in cell 0 but orthogonal-ish -> kept
        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        rows = [(1, [1.0, 0.0, 0.0]),
                (2, [1.0, 0.01, 0.0]),
                (3, [1.0, 0.0, 0.01]),
                (4, [0.0, 1.0, 0.0]),
                (5, [0.6, 0.0, 0.55])]   # cell 0, cos to 1 ~ 0.74
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = {r["vec_id"]: (r["cell"], r["keep"], r["dup_of"]) for r in
               similarity.semantic_dedup(df, "embedding", "vec_id",
                                         threshold=0.95,
                                         centroids=cents).collect()}
        assert out == {1: (0, True, None), 2: (0, False, 1),
                       3: (0, False, 1), 4: (1, True, None),
                       5: (0, True, None)}

    def test_cross_cell_pairs_not_candidates(self, spark):
        # identical vectors forced into DIFFERENT cells by centroids:
        # cell-local semantics keeps both (the documented approximation)
        cents = [[1.0, 0.0], [1.0, 0.001]]
        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r["keep"] for r in
               similarity.semantic_dedup(df, "embedding", "vec_id",
                                         threshold=0.95,
                                         centroids=cents).collect()}
        assert out == {1: True, 2: True}

    def test_oversize_cell_guard(self, spark):
        cents = [[1.0, 0.0]]
        rows = [(i, [1.0, 0.0001 * i]) for i in range(10)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = similarity.semantic_dedup(df, "embedding", "vec_id",
                                        threshold=0.95, centroids=cents,
                                        max_cluster_size=5)
        got = {r["vec_id"]: r["keep"] for r in out.collect()}
        assert all(got.values())                  # nobody deduped
        assert out._zdb_skipped_cells == {0: 10}  # and it says why

    def test_trained_path_and_validation(self, spark):
        import numpy as np
        rng = np.random.RandomState(3)
        blob = lambda c, n: (rng.randn(n, 4) * 0.01 + c).tolist()
        rows = [(i, v) for i, v in enumerate(
            blob([1, 0, 0, 0], 20) + blob([0, 1, 0, 0], 20))]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = similarity.semantic_dedup(df, "embedding", "vec_id",
                                        threshold=0.999, n_clusters=2,
                                        sample_size=40, iters=5)
        rows_out = out.collect()
        assert len(rows_out) == 40                # one row per doc
        assert sum(1 for r in rows_out if r["keep"]) < 40  # tight blobs dedup
        with pytest.raises(ValueError, match="threshold"):
            similarity.semantic_dedup(df, "embedding", "vec_id",
                                      threshold=0.0)


class TestQualityModel:
    def test_linear_score_hand_computed(self, spark):
        import hashlib

        w = [0.5] * 4  # uniform weights -> score = bias + 0.5 regardless
        df = spark.createDataFrame([(1, "any tokens at all")],
                                   "doc_id long, text string")
        r = text.quality_score_linear(df, w, bias=0.25).collect()[0]
        assert abs(r["model_score"] - 0.75) < 1e-6

        # non-uniform: recompute via the same md5 hash in Python
        w2 = [0.1, 0.2, 0.3, 0.4]
        toks = "alpha beta beta".split()
        want = 0.0
        for t in toks:
            idx = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 4
            want += w2[idx]
        want = round(want / len(toks), 6)
        df2 = spark.createDataFrame([(1, "alpha beta beta")],
                                    "doc_id long, text string")
        r2 = text.quality_score_linear(df2, w2).collect()[0]
        assert abs(r2["model_score"] - want) < 1e-9

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            text.quality_score_linear(df, [])


class TestBigramLM:
    def test_hand_computed_logprob(self, spark):
        import math

        # corpus: "a b a b" and "a b c"
        # bigrams: d1: (a b) (b a) (a b); d2: (a b) (b c)
        # c(a b)=3, c(b a)=1, c(b c)=1; prefix c(a)=3, c(b)=2; V={a,b,c}=3
        df = spark.createDataFrame([(1, "a b a b"), (2, "a b c")],
                                   "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               text.bigram_logprob(df, "text", "doc_id", k=0.1).collect()}
        k, V = 0.1, 3
        lp_ab = math.log((3 + k) / (3 + k * V))
        lp_ba = math.log((1 + k) / (2 + k * V))
        lp_bc = math.log((1 + k) / (2 + k * V))
        want1 = round((lp_ab + lp_ba + lp_ab) / 3, 6)
        want2 = round((lp_ab + lp_bc) / 2, 6)
        assert out[1]["n_bigrams"] == 3
        assert abs(out[1]["avg_logprob"] - want1) < 1e-6
        assert abs(out[2]["avg_logprob"] - want2) < 1e-6

    def test_short_doc_null(self, spark):
        df = spark.createDataFrame([(1, "single"), (2, "two words")],
                                   "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               text.bigram_logprob(df, "text", "doc_id").collect()}
        assert out[1]["avg_logprob"] is None
        assert out[2]["n_bigrams"] == 1


class TestKmeansLloyd:
    def test_two_blob_convergence(self, spark):
        rows = ([(i, [2.0 + 0.1 * (i % 3), 0.0]) for i in range(6)]
                + [(i + 6, [0.0, 2.0 + 0.1 * (i % 3)]) for i in range(6)])
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        cents = similarity.kmeans_lloyd(
            df, "embedding", init_centroids=[[2.0, 0.0], [0.0, 2.0]],
            iters=2)
        assert cents[0] == [2.1, 0.0]
        assert cents[1] == [0.0, 2.1]

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.2, 0.0])],
            "vec_id long, embedding array<double>")
        cents = similarity.kmeans_lloyd(
            df, "embedding", init_centroids=[[0.0, 0.0], [9.0, 9.0]],
            iters=1)
        assert cents[0] == [0.1, 0.0]
        assert cents[1] == [9.0, 9.0]   # no members -> carried over

    def test_l2_tie_breaks_to_lowest_index(self, spark):
        df = spark.createDataFrame([(1, [1.0, 1.0])],
                                   "vec_id long, embedding array<double>")
        out = df.withColumn("cid", similarity.nearest_centroid_l2_col(
            "embedding", [[2.0, 0.0], [0.0, 2.0]])).collect()[0]
        assert out["cid"] == 0

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, [1.0])],
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError):
            similarity.kmeans_lloyd(df, "embedding", init_centroids=None)
        with pytest.raises(ValueError):
            similarity.kmeans_lloyd(df, "embedding",
                                    init_centroids=[[1.0], [1.0, 2.0]])


class TestCharEntropy:
    def test_known_values(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="aaaa"),   # one symbol -> 0 bits
            Row(doc_id=2, text="abab"),   # two equiprobable -> 1 bit
            Row(doc_id=3, text="abcd"),   # four equiprobable -> 2 bits
            Row(doc_id=4, text=""),       # empty -> 0 by convention
        ])
        out = {r["doc_id"]: r["char_entropy"]
               for r in text.char_entropy(df, "text").collect()}
        assert out == {1: 0.0, 2: 1.0, 3: 2.0, 4: 0.0}

    def test_skewed_distribution(self, spark):
        # "aab": H = log2(3) - (2*log2(2) + 1*log2(1)) / 3
        import math
        df = spark.createDataFrame([Row(doc_id=1, text="aab")])
        want = round(math.log2(3) - 2.0 / 3.0, 6)
        got = text.char_entropy(df, "text").collect()[0]["char_entropy"]
        assert abs(got - want) < 1e-9


class TestContaminationHash:
    def test_matches_exact_contamination(self, spark):
        from zdb_spark.operators.curation import (contamination,
                                                  contamination_hash)
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{i}t{j}" for j in range(12))) for i in range(6)]
            + [(6, " ".join(f"w0t{j}" for j in range(12)))],  # dup of doc 0
            "doc_id long, text string")
        bench = docs.where("doc_id < 2")
        a = {r["doc_id"]: (r["n_contaminated"], r["contaminated"])
             for r in contamination(docs, bench, "text", "doc_id", n=8)
             .collect()}
        b = {r["doc_id"]: (r["n_contaminated"], r["contaminated"])
             for r in contamination_hash(docs, bench, "text", "doc_id", n=8)
             .collect()}
        assert a == b
        assert a[6][1] and a[0][1] and not a[3][1]


class TestCentroidOutliers:
    def test_flags_planted_outlier(self, spark):
        from zdb_spark.operators.similarity import centroid_outliers
        # cluster 0: tight blob at x=0..0.4, plus one point far out
        rows = [(i, [0.1 * i, 0.0]) for i in range(5)] + [(99, [30.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in
               centroid_outliers(df, [[0.0, 0.0]], "embedding",
                                 "vec_id", z_thresh=2.0).collect()}
        assert out[99]["is_outlier"]
        assert not any(out[i]["is_outlier"] for i in range(5))
        assert all(r["centroid_id"] == 0 for r in out.values())

    def test_degenerate_clusters_never_outliers(self, spark):
        from zdb_spark.operators.similarity import centroid_outliers
        # centroid 1 gets exactly one member (z undefined -> 0.0);
        # centroid 0's members are all equidistant (stddev 0)
        rows = [(1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [10.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in
               centroid_outliers(df, [[0.0, 0.0], [10.0, 0.0]],
                                 "embedding", "vec_id").collect()}
        assert not any(r["is_outlier"] for r in out.values())
        assert all(r["z"] == 0.0 for r in out.values())


class TestQuantizeEmbeddings:
    def test_codes_match_numpy_and_roundtrip(self, spark):
        """int8 symmetric quantization: codes equal the numpy
        floor(x/scale + 0.5) reference, stay in [-127, 127], and
        dequantization error is bounded by scale/2 per coordinate."""
        import numpy as np

        from zdb_spark.operators.similarity import quantize_embeddings

        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(50, 16)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")
        out = {r.vec_id: r for r in
               quantize_embeddings(df, "embedding").collect()}
        for i, v in enumerate(vecs):
            x = v.astype(np.float64)
            scale = np.max(np.abs(x)) / 127.0
            want = np.floor(x / scale + 0.5).astype(np.int64)
            got = np.array(out[i].codes)
            assert (got == want).all(), i
            assert abs(out[i].scale - scale) < 1e-15
            assert got.max() <= 127 and got.min() >= -127
            assert np.max(np.abs(got * scale - x)) <= scale / 2 + 1e-12

    def test_zero_vector_and_bits(self, spark):
        from zdb_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5])],
            "vec_id long, embedding array<float>")
        rows = {r.vec_id: r for r in
                quantize_embeddings(df, "embedding", bits=4).collect()}
        assert rows[0].codes == [0, 0, 0] and rows[0].scale == 0.0
        # bits=4 -> qmax 7: [1, -2, .5] / (2/7) -> [3.5->4, -7, 1.75->2]
        assert rows[1].codes == [4, -7, 2]

    def test_int8_topk_matches_bruteforce_on_separated_data(self, spark):
        """On well-separated vectors the int8 approx scan must recover
        the exact top-k after rerank (quantization error << margins)."""
        import numpy as np

        from zdb_spark.operators.similarity import (brute_force_topk,
                                                    int8_topk)

        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(200, 32)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")
        q = vecs[7].tolist()
        exact = [r.vec_id for r in
                 brute_force_topk(df, q, k=10).collect()]
        approx = [r.vec_id for r in
                  int8_topk(df, q, k=10, rerank=64).collect()]
        assert approx == exact

    def test_int8_topk_precomputed_codes_path(self, spark):
        """The 100 TB serving path: a MATERIALIZED codes corpus
        (quantize once, scan codes) must return exactly what inline
        quantization returns, and the candidate scan must not touch the
        float vectors (the byte-saving claim, checked on the plan)."""
        import numpy as np

        from zdb_spark.operators.similarity import (int8_topk,
                                                    quantize_embeddings)

        rng = np.random.default_rng(12)
        vecs = rng.normal(size=(150, 16)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")
        codes = quantize_embeddings(df, "embedding").select(
            "vec_id", "codes", "scale")
        q = vecs[3].tolist()
        inline = [(r.vec_id, r.cosine_sim)
                  for r in int8_topk(df, q, k=5, rerank=32).collect()]
        pre = [(r.vec_id, r.cosine_sim)
               for r in int8_topk(df, q, k=5, rerank=32,
                                  codes_df=codes).collect()]
        assert pre == inline
        # byte-saving pin: with a parquet codes corpus, the candidate
        # scan's ReadSchema must contain codes/scale, not the embedding
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            codes.write.parquet(f"{d}/codes")
            df.write.parquet(f"{d}/raw")
            codes_p = spark.read.parquet(f"{d}/codes")
            raw_p = spark.read.parquet(f"{d}/raw")
            out = int8_topk(raw_p, q, k=5, rerank=32, codes_df=codes_p)
            plan = (out._jdf.queryExecution().executedPlan().toString())
            scans = [ln for ln in plan.splitlines()
                     if "ReadSchema" in ln and "codes" in ln]
            assert scans and all("embedding" not in ln for ln in scans)


class TestBoilerplateLines:
    def test_strip_repeated_lines_first_occurrence_wins(self, spark):
        from zdb_spark.operators.text import strip_repeated_lines

        df = spark.createDataFrame(
            [(0, "nav\nintro\nnav\nbody\nintro\nnav"),
             (1, "only\nlines\nhere"),
             (2, "x\nx\nx")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in strip_repeated_lines(df).collect()}
        assert out[0].clean_text == "nav\nintro\nbody"
        assert (out[0].n_lines, out[0].n_kept) == (6, 3)
        assert out[1].clean_text == "only\nlines\nhere"
        assert out[2].clean_text == "x" and out[2].n_kept == 1

    def test_strip_boilerplate_lines_group_scoped(self, spark):
        from zdb_spark.operators.text import strip_boilerplate_lines

        chrome = "COOKIE BANNER"
        rows = [(i, f"{chrome}\ndoc {i} body\nunique{i}", "siteA")
                for i in range(3)]
        # same line in siteB but only 2 docs -> below min_docs, kept
        rows += [(10 + i, f"{chrome}\nb {i}", "siteB") for i in range(2)]
        rows.append((20, chrome, "siteA"))  # all-chrome doc -> empty
        df = spark.createDataFrame(rows, "doc_id long, text string, "
                                         "source string")
        out = {r.id: r for r in
               strip_boilerplate_lines(df, min_docs=3).collect()}
        for i in range(3):
            assert out[i].clean_text == f"doc {i} body\nunique{i}", i
            assert (out[i].n_lines, out[i].n_kept) == (3, 2)
        for i in (10, 11):
            assert out[i].clean_text.startswith(chrome)
        assert out[20].clean_text == "" and out[20].n_kept == 0

    def test_strip_boilerplate_cache_lines_identical(self, spark):
        """r19: cache_lines=True (one persisted line explode shared by
        the chrome count and the strip join) must be row-identical to
        the default two-explode path, and expose the persisted frame
        for release."""
        from zdb_spark.operators import dedup
        from zdb_spark.operators.text import strip_boilerplate_lines

        chrome = "COOKIE BANNER"
        rows = [(i, f"{chrome}\ndoc {i} body\nunique{i}", "siteA")
                for i in range(3)]
        rows.append((20, chrome, "siteA"))
        rows.append((21, None, "siteA"))  # NULL text edge
        df = spark.createDataFrame(rows, "doc_id long, text string, "
                                         "source string")
        plain = strip_boilerplate_lines(df, min_docs=3)
        cached = strip_boilerplate_lines(df, min_docs=3,
                                         cache_lines=True)
        key = lambda r: (r.id, r.grp, r.n_lines, r.n_kept, r.clean_text)
        assert sorted(map(key, cached.collect())) == \
            sorted(map(key, plain.collect()))
        handles = cached._zdb_cache_handles
        assert handles and handles[0].storageLevel.useMemory
        dedup.release(cached)
        assert not handles[0].storageLevel.useMemory

    def test_strip_repeated_lines_zero_shuffle(self, spark):
        from zdb_spark.operators.text import strip_repeated_lines
        from zdb_spark.plans.inspect import scan_report

        df = spark.createDataFrame([(0, "a\nb\na")],
                                   "doc_id long, text string")
        out = strip_repeated_lines(df)
        assert scan_report(out).exchanges == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan

    def test_strip_boilerplate_anti_join_not_cartesian(self, spark):
        from zdb_spark.operators.text import strip_boilerplate_lines

        df = spark.createDataFrame([(0, "a\nb", "s")] * 1,
                                   "doc_id long, text string, source string")
        out = strip_boilerplate_lines(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_boilerplate_store_partial_merge_equals_batch(self, spark,
                                                          tmp_path):
        """build + append partial counts, then chrome_lines(sum >= k)
        must equal the one-shot strip_boilerplate_lines chrome on the
        union — partial-merge ≡ global distinct counting for
        id-disjoint batches."""
        from zdb_spark.operators.text import (append_boilerplate_store,
                                              build_boilerplate_store,
                                              chrome_lines,
                                              strip_boilerplate_lines,
                                              strip_lines_against)

        chrome = "NAV BAR"
        hist = [(i, f"{chrome}\nh{i}", "s") for i in range(2)]
        batch = [(10 + i, f"{chrome}\nb{i}\nonly twice", "s")
                 for i in range(2)]
        hdf = spark.createDataFrame(hist, "doc_id long, text string, "
                                          "source string")
        bdf = spark.createDataFrame(batch, "doc_id long, text string, "
                                           "source string")
        store = str(tmp_path / "store")
        build_boilerplate_store(hdf, store)
        append_boilerplate_store(bdf, store, 1)
        # replay of the same batch id must be a no-op rewrite, not a
        # double-count (foreachBatch is at-least-once)
        append_boilerplate_store(bdf, store, 1)
        # chrome appears in 4 distinct docs ACROSS the two partials
        # (2 + 2); 'only twice' appears in 2 — below min_docs=3
        cleaned = {r.id: r.clean_text for r in strip_lines_against(
            bdf, chrome_lines(spark, store, min_docs=3)).collect()}
        assert cleaned[10] == "b0\nonly twice"
        assert cleaned[11] == "b1\nonly twice"
        # equivalence with the one-shot batch operator on the union
        want = {r.id: r.clean_text for r in strip_boilerplate_lines(
            hdf.unionByName(bdf), min_docs=3).collect()
            if r.id >= 10}
        assert cleaned == want

    def test_strip_lines_against_null_text_stays_null(self, spark):
        """NULL text must come back all-NULL — what
        strip_repeated_lines yields for NULL text — NOT be silently
        rewritten to an empty document (round-10 advice); genuinely
        all-chrome docs still coerce to the empty string."""
        from zdb_spark.operators.text import strip_lines_against

        df = spark.createDataFrame(
            [(0, None, "s"), (1, "CHROME", "s"), (2, "CHROME\nreal", "s")],
            "doc_id long, text string, source string")
        chrome = spark.createDataFrame([("s", "CHROME")], "grp string, "
                                       "line string").select(
            "grp", F.md5("line").alias("_h"))
        out = {r.id: r for r in strip_lines_against(df, chrome).collect()}
        assert out[0].n_lines is None and out[0].n_kept is None
        assert out[0].clean_text is None
        assert out[1].n_kept == 0 and out[1].clean_text == ""
        assert out[2].n_kept == 1 and out[2].clean_text == "real"


class TestPCA:
    def test_covariance_matches_numpy(self, spark):
        import numpy as np

        from zdb_spark.operators.similarity import embedding_covariance

        rng = np.random.default_rng(3)
        x = rng.normal(size=(80, 6)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, embedding array<float>")
        got = np.zeros((6, 6))
        for r in embedding_covariance(df, dim=6).collect():
            got[r.i, r.j] = r.cov
        want = np.cov(x.astype(np.float64), rowvar=False, bias=True)
        assert np.abs(got - want).max() < 1e-6   # round_dp=6
        assert np.allclose(got, got.T)

    def test_pca_components_match_numpy_eigh(self, spark):
        import numpy as np

        from zdb_spark.operators.similarity import (embedding_covariance,
                                                    pca_components)

        rng = np.random.default_rng(5)
        base = rng.normal(size=(120, 2)) @ rng.normal(size=(2, 5)) * 3
        x = (base + 0.01 * rng.normal(size=(120, 5))).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, embedding array<float>")
        comps, evs = pca_components(df, q=2, vec_col="embedding")
        # reference: eigh on the same rounded covariance the operator saw
        cov = np.zeros((5, 5))
        for r in embedding_covariance(df, dim=5).collect():
            cov[r.i, r.j] = r.cov
        vals, vecs = np.linalg.eigh(cov)
        order = np.argsort(-vals)[:2]
        for rank, idx in enumerate(order):
            c = vecs[:, idx]
            if c[np.argmax(np.abs(c))] < 0:
                c = -c
            assert np.abs(comps[rank] - np.round(c, 6)).max() < 1e-12
            assert abs(evs[rank] - round(float(vals[idx]), 6)) < 1e-12
        # rank-2 data: top-2 eigenvalues carry ~all the variance
        third = vals[np.argsort(-vals)[2]]
        assert evs[1] > 100 * abs(third)

    def test_pca_components_accepts_precomputed_covariance(self, spark):
        """Train-once/reuse: passing the (i, j, cov) frame skips the
        corpus pass and must reproduce the from-scratch training
        exactly (eigh runs on the identical rounded matrix)."""
        import numpy as np

        from zdb_spark.operators.similarity import (embedding_covariance,
                                                    pca_components)

        rng = np.random.default_rng(11)
        x = (rng.normal(size=(80, 4)) * np.array([4.0, 2.0, 1.0, 0.2]))
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x.astype(np.float32))],
            "vec_id long, embedding array<float>")
        fresh_c, fresh_e = pca_components(df, q=3)
        cov = embedding_covariance(df, dim=4)
        reuse_c, reuse_e = pca_components(df, q=3, cov_df=cov)
        assert np.array_equal(fresh_c, reuse_c)
        assert np.array_equal(fresh_e, reuse_e)

    def test_pca_gate_cache_load_equals_fresh_train(self, spark):
        """The embedding_pca gate caches trained components by corpus
        fingerprint; the cached JSON must round-trip to the exact
        doubles a fresh training produces (determinism is what makes
        the cache == the oracle's literals)."""
        import glob
        import json
        import os
        import tempfile

        import numpy as np

        import __spark_entry__ as em
        from zdb_spark.operators.similarity import pca_components

        sf_dir = "/root/testdata/sf0.001"
        cache_dir = os.path.join(tempfile.gettempdir(),
                                 "zdb_pca_components")
        key = em._key_for(sf_dir, "pca-q4-v1", ("embeddings",))
        path = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(path):
            os.remove(path)
        em.q_embedding_pca(spark, sf_dir).count()   # miss -> trains
        assert os.path.exists(path)
        cached = json.load(open(path))
        fresh, _ = pca_components(em._load(spark, sf_dir, "embeddings"),
                                  q=4)
        assert np.array_equal(np.asarray(cached), fresh)
        # second call must hit the cache (no retrain): mtime unchanged
        before = os.path.getmtime(path)
        em.q_embedding_pca(spark, sf_dir).count()
        assert os.path.getmtime(path) == before

    def test_pca_project_zero_shuffle_and_variance_order(self, spark):
        import numpy as np

        from zdb_spark.operators.similarity import (pca_components,
                                                    pca_project)
        from zdb_spark.plans.inspect import scan_report

        rng = np.random.default_rng(9)
        x = (rng.normal(size=(100, 4)) * np.array([5.0, 2.0, 0.5, 0.1]))
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x.astype(np.float32))],
            "vec_id long, embedding array<float>")
        comps, evs = pca_components(df, q=2, vec_col="embedding")
        out = pca_project(df, comps)
        assert scan_report(out).exchanges == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
        proj = np.array([r.pca for r in out.collect()])
        v0, v1 = proj[:, 0].var(), proj[:, 1].var()
        assert v0 > v1                       # variance-ordered
        assert evs[0] > evs[1] > 0

    def test_covariance_gram_matches_exact(self, spark):
        """The large-d gram path (per-partition BLAS matmul partials)
        must agree with the decimal-exact posexplode path to 1e-9 —
        same cells, same combine, only the accumulation differs."""
        import numpy as np

        from zdb_spark.operators.similarity import embedding_covariance

        rng = np.random.default_rng(21)
        x = rng.normal(size=(300, 12)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, embedding array<float>").repartition(7)
        exact = {(r.i, r.j): r.cov for r in
                 embedding_covariance(df, dim=12).collect()}
        gram = {(r.i, r.j): r.cov for r in
                embedding_covariance(df, dim=12,
                                     method="gram").collect()}
        assert set(exact) == set(gram) and len(exact) == 144
        worst = max(abs(exact[k] - gram[k]) for k in exact)
        assert worst < 1e-9, worst
        # numpy ground truth for both
        cov_np = np.cov(np.asarray(x, dtype=np.float64).T, bias=True)
        worst_np = max(abs(exact[(i, j)] - cov_np[i, j])
                       for i in range(12) for j in range(12))
        assert worst_np < 1e-6, worst_np

    def test_covariance_gram_ragged_and_null_vectors(self, spark):
        import pytest as _pt

        from zdb_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
            "vec_id long, embedding array<double>")
        # NULL vectors are skipped (the exact path's posexplode drops
        # them too): n must be 2
        rows = embedding_covariance(df, dim=2, method="gram").collect()
        assert len(rows) == 4
        bad = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
        with _pt.raises(Exception, match="does not match dim"):
            embedding_covariance(bad, dim=2, method="gram").collect()
        with _pt.raises(ValueError, match="unknown method"):
            embedding_covariance(df, dim=2, method="typo")

    def test_pca_sf001_literal_matches_live_training(self, spark):
        """The embedding_pca oracle embeds sf0.01-trained component
        LITERALS (_PCA_SF001_COMPONENTS) because SQL cannot run eigh;
        this pin makes literal drift (fixture regenerated, LAPACK
        changed) fail locally BEFORE the driver's hash gate goes red.
        Regenerate with tools/train_pca_literal.py on mismatch."""
        import os

        import numpy as np

        sf01 = "/root/testdata/sf0.01"
        if not os.path.exists(f"{sf01}/embeddings.parquet"):
            import pytest as _pt
            _pt.skip("sf0.01 fixture absent")
        import __spark_entry__ as entry
        from zdb_spark.operators.similarity import pca_components

        emb = spark.read.parquet(f"{sf01}/embeddings.parquet")
        comps, _evs = pca_components(emb, q=4)
        lit = np.asarray(entry._PCA_SF001_COMPONENTS)
        assert comps.shape == lit.shape
        assert np.array_equal(comps, lit), (
            "trained components drifted from _PCA_SF001_COMPONENTS — "
            "rerun tools/train_pca_literal.py")


    def test_sep_metacharacters_refused(self, spark):
        """Regex-meta separators would split-as-regex but join-as-literal
        — refused loudly; plain multi-char and whitespace seps pass."""
        import pytest as _pt

        from zdb_spark.operators.text import (strip_boilerplate_lines,
                                              strip_repeated_lines)

        df = spark.createDataFrame([(0, "a.b", "s")],
                                   "doc_id long, text string, source string")
        with _pt.raises(ValueError, match="metachar"):
            strip_repeated_lines(df, sep=".")
        with _pt.raises(ValueError, match="metachar"):
            strip_boilerplate_lines(df, sep="|")
        out = strip_repeated_lines(df, sep="\n").collect()[0]
        assert out.clean_text == "a.b"


class TestCorpusFilterRules:
    """C4 line cleaning (Raffel et al. 2020) and Gopher quality rules
    (Rae et al. 2021) — the named public filter recipes."""

    def test_c4_line_rules(self, spark):
        from zdb_spark.operators.text import c4_line_clean

        df = spark.createDataFrame([
            (0, "A good long sentence that ends with punctuation.\n"
                "no terminal punctuation here at all\n"
                "short one.\n"
                "Please enable javascript to continue reading this.\n"
                "Another proper keeper sentence lives right here!"),
            (1, None),
            (2, "Only one decent sentence that survives the filter."),
        ], "doc_id long, text string")
        out = {r.id: r for r in c4_line_clean(df).collect()}
        assert out[0].n_lines == 5 and out[0].n_kept == 2
        assert "javascript" not in out[0].clean_text
        assert "short one." not in out[0].clean_text
        assert out[0].c4_doc_ok is False          # < 3 kept lines
        assert out[1].clean_text is None and out[1].c4_doc_ok is False
        assert out[2].n_kept == 1

    def test_c4_doc_gate_brace(self, spark):
        from zdb_spark.operators.text import c4_line_clean

        good = "\n".join(
            f"This is keeper sentence number {i} with many words." for i
            in range(4))
        out = c4_line_clean(spark.createDataFrame(
            [(0, good), (1, good + "\nbrace { lives in this sentence.")],
            "doc_id long, text string")).collect()
        got = {r.id: r.c4_doc_ok for r in out}
        assert got == {0: True, 1: False}

    def test_gopher_flags(self, spark):
        from zdb_spark.operators.text import gopher_quality_flags

        prose = ("the cat and the dog ran to the park and it was good "
                 "for you that day in every way " * 3)
        rows = [
            (0, prose + "word " * 20),                  # passes all
            (1, "tiny doc."),                           # word count fails
            (2, prose + "\n" + "#" * 400),              # hash ratio fails
            (3, "- a\n- b\n- c\n- d"),                  # bullets fail
            (4, None),                                  # all fail
            (5, prose + "\nmore...\nagain...\nstill..."),  # ellipsis
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
        assert out[0].gopher_ok is True
        assert out[1].ok_word_count is False
        assert out[2].ok_hash_ellipsis is False
        assert out[3].ok_bullets is False
        assert all(v is False for v in [
            out[4].ok_word_count, out[4].ok_stopwords, out[4].gopher_ok])
        assert out[5].ok_hash_ellipsis is False
        assert out[0].ok_stopwords is True

    def test_rules_are_pure_projections(self, spark):
        from zdb_spark.operators.text import (c4_line_clean,
                                              gopher_quality_flags)
        from zdb_spark.plans.inspect import scan_report

        df = spark.createDataFrame([(0, "x.")],
                                   "doc_id long, text string")
        assert scan_report(c4_line_clean(df)).exchanges == 0
        out = gopher_quality_flags(df)
        assert scan_report(out).exchanges == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan      # no UDFs — pure codegen HOFs


class TestUnigramTokenizer:
    """SentencePiece-style unigram LM (tokenize.py:train_unigram /
    apply_unigram): planted-corpus recovery, Viterbi tie rules,
    character fallback."""

    def _planted(self, spark):
        pieces = ["abc", "def", "ghi", "jkl"]
        words = [pieces[i % 4] + pieces[(i * 3 + 1) % 4]
                 + (pieces[(i * 7 + 2) % 4] if i % 2 else "")
                 for i in range(40)]
        docs = [(i, " ".join(words[(i * 5 + j) % 40] for j in range(6)))
                for i in range(30)]
        return spark.createDataFrame(docs, "doc_id long, text string")

    def test_train_recovers_planted_pieces(self, spark):
        from zdb_spark.operators.tokenize import train_unigram

        vocab = train_unigram(self._planted(spark), vocab_size=8,
                              max_piece_len=3, iters=2)
        multi = sorted(p for p, _lp in vocab if len(p) > 1)
        assert multi == ["abc", "def", "ghi", "jkl"]
        # deterministic across retrains
        vocab2 = train_unigram(self._planted(spark), vocab_size=8,
                               max_piece_len=3, iters=2)
        assert vocab == vocab2

    def test_apply_segments_and_counts(self, spark):
        from zdb_spark.operators.tokenize import (apply_unigram,
                                                  train_unigram)

        df = self._planted(spark)
        vocab = train_unigram(df, vocab_size=8, max_piece_len=3, iters=2)
        out = {r.id: r for r in apply_unigram(df, vocab).collect()}
        for r in out.values():
            assert all(t in {"abc", "def", "ghi", "jkl"} for t in r.tokens)
            assert r.n_tokens == len(r.tokens)

    def test_apply_unigram_parity_with_bpe_udf(self, spark):
        """Contract parity with apply_bpe_udf (round-11 review): string
        doc ids keep their type (no Arrow cast crash), NULL text
        propagates as (NULL tokens, NULL n_tokens), and an empty STRING
        still yields ([], 0)."""
        from zdb_spark.operators.tokenize import apply_unigram

        df = spark.createDataFrame(
            [("doc-a", "abc def"), ("doc-b", None), ("doc-c", "")],
            "doc_id string, text string")
        vocab = [("abc", -1.0), ("def", -1.0)]
        out = apply_unigram(df, vocab)
        assert dict(out.dtypes)["id"] == "string"
        rows = {r.id: r for r in out.collect()}
        assert rows["doc-a"].tokens == ["abc", "def"]
        assert rows["doc-a"].n_tokens == 2
        assert rows["doc-b"].tokens is None
        assert rows["doc-b"].n_tokens is None
        assert rows["doc-c"].tokens == []
        assert rows["doc-c"].n_tokens == 0

    def test_viterbi_tie_and_fallback(self):
        from zdb_spark.operators.tokenize import _viterbi_segment

        # equal scores: fewer pieces win ("ab" once beats "a"+"b")
        probs = {"ab": -2.0, "a": -1.0, "b": -1.0}
        assert _viterbi_segment("ab", probs, 2) == ["ab"]
        # unknown chars fall back to singles, never crash
        assert _viterbi_segment("xq", {"a": -1.0}, 2) == ["x", "q"]
        # lexicographic boundary tie: identical score segmentations
        # resolve deterministically
        probs = {"aa": -1.0, "a": -0.5}
        s1 = _viterbi_segment("aaa", probs, 2)
        assert s1 == _viterbi_segment("aaa", probs, 2)
        assert "".join(s1) == "aaa"


class TestProgressiveJpeg:
    """Progressive (SOF2, T.81 Annex G) decode — the round-11 verdict's
    one remaining media-format gap.  The pin everywhere: a progressive
    stream carries the SAME quantized coefficients as the baseline
    stream, so its decode must equal the baseline decode BIT-FOR-BIT."""

    def _px(self, shape, seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        base = rng.integers(0, 256,
                            size=(4, 4) if len(shape) == 2 else (4, 4, 3))
        reps = ((shape[0] // 4 + 1, shape[1] // 4 + 1) if len(shape) == 2
                else (shape[0] // 4 + 1, shape[1] // 4 + 1, 1))
        return np.kron(base, np.ones(reps))[
            :shape[0], :shape[1]].astype(np.uint8)

    def test_progressive_equals_baseline_decode(self):
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        for shape, sub, ri, seed in [((16, 16), "444", 0, 1),
                                     ((24, 17, 3), "420", 0, 2),
                                     ((12, 20, 3), "444", 2, 3),
                                     ((33, 31, 3), "420", 3, 4),
                                     ((4, 4, 3), "420", 0, 5)]:
            px = self._px(shape, seed)
            eb = jpeg_encode_pixels(px, quality=95, subsampling=sub,
                                    restart_interval=ri)
            ep = jpeg_encode_pixels(px, quality=95, subsampling=sub,
                                    restart_interval=ri,
                                    progressive=True)
            assert ep[2:4] != eb[2:4] or b"\xff\xc2" in ep[:200]
            assert np.array_equal(jpeg_decode_pixels(ep),
                                  jpeg_decode_pixels(eb)), (shape, sub)

    def test_progressive_eob_runs(self):
        """A mostly-flat image makes nearly every AC band empty — the
        writer merges those blocks into EOBn runs (general r, extra
        bits), exercising the decoder's run skip AND the refinement
        tail that still reads correction bits inside a run."""
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        px = np.full((80, 80), 100, np.uint8)
        px[40:48, 40:48] = 250
        ep = jpeg_encode_pixels(px, quality=90, progressive=True)
        eb = jpeg_encode_pixels(px, quality=90)
        assert np.array_equal(jpeg_decode_pixels(ep),
                              jpeg_decode_pixels(eb))
        # the run form must actually be smaller than per-block EOB0s
        # would allow: 100 blocks, most coding ~nothing
        assert len(ep) < len(eb) + 2500

    def test_truncated_progressive_renders_coarse_preview(self):
        """A progressive stream cut after its first (DC) scan is still
        a valid coarse image — the format's defining property; a flat
        8x8-block image reconstructs EXACTLY from DC alone."""
        import re

        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        rng = np.random.default_rng(7)
        px = np.kron(rng.integers(0, 256, (4, 4)),
                     np.ones((8, 8)))[:32, :32].astype(np.uint8)
        ep = jpeg_encode_pixels(px, quality=95, progressive=True)
        sos = [m.start() for m in re.finditer(b"\xff\xda", ep)]
        assert len(sos) >= 2
        coarse = jpeg_decode_pixels(ep[:sos[1]] + b"\xff\xd9")
        assert coarse.shape == px.shape
        # DC-first scan at Al=1 loses the DC LSB: within 1 quantizer
        # step of the exact flat value everywhere
        assert abs(coarse.astype(int) - px.astype(int)).max() <= 4

    def test_progressive_negative_dc_refinement(self):
        """DC successive approximation on DARK blocks (negative DC
        after level shift): the refinement bit must OR into the
        two's-complement arithmetic-shifted history correctly."""
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        px = np.full((16, 16), 3, np.uint8)        # far below 128
        px[8:, 8:] = 9
        ep = jpeg_encode_pixels(px, quality=75, progressive=True)
        eb = jpeg_encode_pixels(px, quality=75)
        assert np.array_equal(jpeg_decode_pixels(ep),
                              jpeg_decode_pixels(eb))


class TestMp4Probe:
    """Real ISO BMFF container metadata (multimodal.py:mp4_probe) —
    the codec-free 90% of video triage: dims from the video trak's
    tkhd, frame count from stts, duration from mvhd."""

    def test_decode_video_mp4_path(self, spark):
        from zdb_spark.operators.multimodal import (decode_video,
                                                    mp4_encode)

        codecs = ["avc1", "hev1", "av01", "vp09"]
        rows = [(i, mp4_encode(320 + i, 180 + i, 24 * (i + 1),
                               float(i + 1), codec=codecs[i]))
                for i in range(4)]
        df = spark.createDataFrame(rows, "id long, blob binary")
        out = {r.id: r for r in
               decode_video(df, decoder="mp4").collect()}
        for i in range(4):
            r = out[i]
            assert (r.fmt, r.codec, r.width, r.height, r.n_frames,
                    r.duration_s) == ("isom", codecs[i], 320 + i,
                                      180 + i, 24 * (i + 1),
                                      float(i + 1))

    def test_error_family(self):
        import pytest

        from zdb_spark.operators.multimodal import mp4_encode, mp4_probe

        with pytest.raises(ValueError, match="ftyp"):
            mp4_probe(b"\x00\x00\x00\x18freeAAAA")
        blob = mp4_encode(16, 16, 10, 1.0)
        with pytest.raises(ValueError, match="truncated mp4"):
            mp4_probe(blob[:len(blob) // 2])
        # moov stripped entirely: the non-faststart-cut message
        import struct as _s
        ftyp_len = _s.unpack(">I", blob[:4])[0]
        with pytest.raises(ValueError, match="moov"):
            mp4_probe(blob[:ftyp_len])
        # audio-only container: no video trak
        audio = blob.replace(b"vide", b"soun")
        with pytest.raises(ValueError, match="video trak"):
            mp4_probe(audio)

    def test_bounds_raise_valueerror_not_struct_error(self):
        """Round-12 advice pins: a truncated mvhd v1 (28..31 payload
        bytes — enough for the old guard, short of the 8-byte duration
        read) and a short stts (payload < 8) must raise the documented
        ValueError family, never struct.error."""
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _mp4_box as box
        from zdb_spark.operators.multimodal import mp4_probe

        ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0x200) + b"isom")
        mvhd_v1 = box(b"mvhd", b"\x01" + b"\x00" * 30)   # 31-byte body
        with pytest.raises(ValueError, match="mvhd v1"):
            mp4_probe(ftyp + box(b"moov", mvhd_v1))

        mvhd = box(b"mvhd", _s.pack(">B3x4I", 0, 0, 0, 1000, 1000)
                   + b"\x00" * 80)
        tkhd = box(b"tkhd", _s.pack(">B3x", 0) + b"\x00" * 72
                   + _s.pack(">II", 16 << 16, 16 << 16))
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12
                   + b"V\x00")
        stts_bad = box(b"stts", b"\x00" * 6)             # 6 < 8 bytes
        minf = box(b"minf", box(b"stbl", stts_bad))
        trak = box(b"trak", tkhd + box(b"mdia", hdlr + minf))
        with pytest.raises(ValueError, match="stts cut short"):
            mp4_probe(ftyp + box(b"moov", mvhd + trak))

    def test_mp4_sample_table_full_index(self):
        """stts dts expansion + per-sample stsz + stss sync flags —
        the real sample index mp4_frame_samples walks (r16)."""
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_table)

        sizes = [100, 250, 90, 400, 333]
        blob = mp4_encode(32, 24, 5, 0.5, 1000, frame_delta=100,
                          frame_sizes=sizes, sync_every=2)
        tts, samples = mp4_sample_table(blob)
        assert tts == 1000
        assert samples == [
            (0, 0, 100, True), (1, 100, 250, False),
            (2, 200, 90, True), (3, 300, 400, False),
            (4, 400, 333, True)]

    def test_mp4_sample_table_spec_defaults(self):
        """No stsz -> size -1; no stss -> EVERY sample is a sync
        sample (ISO 14496-12 §8.6.2 default) — the r13 fixture shape,
        byte-identical under the extended encoder defaults."""
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_table)

        blob = mp4_encode(16, 16, 3, 1.0)
        tts, samples = mp4_sample_table(blob)
        assert samples == [(0, 0, -1, True), (1, 1, -1, True),
                           (2, 2, -1, True)]

    def test_mp4_sample_table_loud_paths(self):
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _mp4_box as box
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_table)

        with pytest.raises(ValueError, match="no ftyp"):
            mp4_sample_table(b"RIFF1234WEBP")
        # stsz count disagreeing with stts is corrupt, not guessable
        good = mp4_encode(16, 16, 4, 1.0, frame_sizes=[1, 2, 3, 4])
        bad = good.replace(
            box(b"stsz", _s.pack(">B3xII", 0, 0, 4)
                + b"".join(_s.pack(">I", s) for s in (1, 2, 3, 4))),
            box(b"stsz", _s.pack(">B3xII", 0, 0, 3)
                + b"".join(_s.pack(">I", s) for s in (1, 2, 3))))
        with pytest.raises(ValueError, match="stsz sample_count"):
            mp4_sample_table(bad)
        # a hostile stts claiming 2^31 samples must refuse, not OOM
        huge = mp4_encode(16, 16, 1, 1.0).replace(
            box(b"stts", _s.pack(">B3xI", 0, 1)
                + _s.pack(">II", 1, 1)),
            box(b"stts", _s.pack(">B3xI", 0, 1)
                + _s.pack(">II", 1 << 31, 1)))
        with pytest.raises(ValueError, match="refusing to expand"):
            mp4_sample_table(huge)

    def test_mp4_sample_offsets_chunk_walk(self):
        """stsc/stco byte map (r16): 10 samples in 4-4-2 chunks, each
        payload sliced back exactly; under-full single chunk and
        one-sample edges covered by the writer's run fix."""
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_offsets)

        pays = [bytes([65 + i % 26]) * (10 + i) for i in range(10)]
        blob = mp4_encode(32, 24, 10, 1.0, frame_payloads=pays,
                          samples_per_chunk=4)
        offs = mp4_sample_offsets(blob)
        assert [i for i, _, _ in offs] == list(range(10))
        assert all(blob[o:o + s] == pays[i] for i, o, s in offs)
        one = mp4_encode(8, 8, 1, 1.0, frame_payloads=[b"abc"])
        (i, o, s), = mp4_sample_offsets(one)
        assert (i, s, one[o:o + s]) == (0, 3, b"abc")

    def test_mp4_sample_offsets_co64_and_loud(self):
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _mp4_box as box
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_offsets)

        # hand-assembled minimal container with a 64-bit co64 chunk
        # table (the >4 GiB-file form mp4_encode never writes)
        pays = [b"ab", b"cde"]
        ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0x200) + b"isom")
        mvhd = box(b"mvhd", _s.pack(">B3x4I", 0, 0, 0, 1000, 1000)
                   + b"\x00" * 80)
        tkhd = box(b"tkhd", _s.pack(">B3x", 0) + b"\x00" * 72
                   + _s.pack(">II", 8 << 16, 8 << 16))
        mdhd = box(b"mdhd", _s.pack(">B3x4I2H", 0, 0, 0, 1000, 1000,
                                    0x55C4, 0))
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12
                   + b"V\x00")
        entry = (_s.pack(">I", 16) + b"avc1" + b"\x00" * 6
                 + _s.pack(">H", 1))
        stsd = box(b"stsd", _s.pack(">B3xI", 0, 1) + entry)
        stts = box(b"stts", _s.pack(">B3xI", 0, 1)
                   + _s.pack(">II", len(pays), 1))
        stsz = box(b"stsz", _s.pack(">B3xII", 0, 0, len(pays))
                   + b"".join(_s.pack(">I", len(p)) for p in pays))
        stsc = box(b"stsc", _s.pack(">B3xI", 0, 1)
                   + _s.pack(">III", 1, len(pays), 1))

        def moov(off):
            co64 = box(b"co64", _s.pack(">B3xI", 0, 1)
                       + _s.pack(">Q", off))
            stbl = box(b"stbl", stsd + stts + stsz + stsc + co64)
            return box(b"moov", mvhd + box(
                b"trak", tkhd + box(b"mdia", mdhd + hdlr
                                    + box(b"minf", stbl))))

        base = len(ftyp) + len(moov(0)) + 8
        blob64 = ftyp + moov(base) + box(b"mdat", b"".join(pays))
        offs = mp4_sample_offsets(blob64)
        assert [blob64[o:o + s] for _, o, s in offs] == pays
        # no stsz -> byte extraction must refuse
        with pytest.raises(ValueError, match="no stsz"):
            mp4_sample_offsets(mp4_encode(8, 8, 2, 1.0))
        # truncated mdat -> sample past EOF is loud
        stco_blob = mp4_encode(8, 8, 2, 1.0, frame_payloads=pays,
                               samples_per_chunk=2)
        with pytest.raises(ValueError, match="past end"):
            mp4_sample_offsets(stco_blob[:-3])

    def test_mp4_frame_samples_policies(self, spark):
        """Both triage policies over the real index: every-nth with a
        cap, and keyframes-only (only sync samples are independently
        decodable)."""
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_frame_samples)

        blob = mp4_encode(32, 24, 10, 1.0, 1000, frame_delta=100,
                          frame_sizes=list(range(10, 20)),
                          sync_every=3)
        df = spark.createDataFrame([(7, bytearray(blob)), (8, None)],
                                   "id long, blob binary")
        nth = mp4_frame_samples(df, "blob", "id", every_nth=3,
                                max_frames=3).collect()
        assert [(r.frame_idx, r.t_units, r.size_bytes, r.keyframe)
                for r in nth] == [(0, 0, 10, True), (3, 300, 13, True),
                                  (6, 600, 16, True)]
        keys = mp4_frame_samples(df, "blob", "id", keyframes_only=True,
                                 max_frames=2).collect()
        assert [(r.frame_idx, r.keyframe) for r in keys] == \
            [(0, True), (3, True)]
        assert all(r.id == 7 and r.timescale == 1000
                   for r in nth + keys)       # NULL blob vanished

    def test_webm_sample_table_clusters(self):
        """EBML block walk (r16): multi-cluster relative timestamps,
        SimpleBlock keyframe flags, inline byte extraction."""
        from zdb_spark.operators.multimodal import (webm_encode,
                                                    webm_sample_offsets,
                                                    webm_sample_table)

        frames = [(0, True, b"KEY0"), (40, False, b"p1x"),
                  (1000, True, b"KEY1!"), (1040, False, b"q1"),
                  (2500, True, b"KEY2")]
        blob = webm_encode(64, 48, 2.5, frames=frames,
                           cluster_every_ms=1000)
        ts, samples = webm_sample_table(blob)
        assert ts == 1000                       # 1e9 / 1e6-ns units
        assert samples == [
            (0, 0, 4, True), (1, 40, 3, False), (2, 1000, 5, True),
            (3, 1040, 2, False), (4, 2500, 4, True)]
        offs = webm_sample_offsets(blob)
        assert [blob[o:o + s] for _, o, s in offs] == \
            [f[2] for f in frames]

    def test_webm_blockgroup_and_loud_paths(self):
        """BlockGroup keyframe rule (keyframe iff no ReferenceBlock)
        and the laced-block refusal."""
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _ebml_elem as elem
        from zdb_spark.operators.multimodal import (webm_encode,
                                                    webm_sample_table)

        header = elem(0x1A45DFA3, elem(0x4282, b"webm"))

        def seg(cluster_body):
            info = elem(0x1549A966,
                        elem(0x2AD7B1, (1_000_000).to_bytes(4, "big")))
            return header + elem(0x18538067,
                                 info + elem(0x1F43B675, cluster_body))

        blk = lambda rel, payload: (b"\x81" + _s.pack(">h", rel)
                                    + b"\x00" + payload)
        body = (elem(0xE7, b"\x05")
                + elem(0xA0, elem(0xA1, blk(0, b"I-frame")))
                + elem(0xA0, elem(0xA1, blk(1, b"P"))
                       + elem(0xFB, b"\xff")))   # has ReferenceBlock
        _, samples = webm_sample_table(seg(body))
        assert samples == [(0, 5, 7, True), (1, 6, 1, False)]
        # lacing bits set -> loud
        laced = elem(0xE7, b"\x00") + elem(
            0xA3, b"\x81" + _s.pack(">h", 0) + b"\x02" + b"xx")
        with pytest.raises(ValueError, match="laced"):
            webm_sample_table(seg(laced))
        # a TimestampScale that does not divide 1e9 -> loud
        weird = header + elem(0x18538067, elem(
            0x1549A966, elem(0x2AD7B1, (3_000_000).to_bytes(4, "big"))))
        with pytest.raises(ValueError, match="TimestampScale"):
            webm_sample_table(weird)
        # clusterless fixture (the r13 shape): empty sample table
        assert webm_sample_table(webm_encode(8, 8, 1.0)) == (1000, [])

    def test_webm_offsets_share_the_lacing_refusal(self):
        """r16 review: the offsets walker must refuse laced blocks
        exactly like the table walker (one shared parser)."""
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _ebml_elem as elem
        from zdb_spark.operators.multimodal import (webm_sample_offsets,
                                                    webm_sample_table)

        header = elem(0x1A45DFA3, elem(0x4282, b"webm"))
        laced = elem(0x1F43B675, elem(0xE7, b"\x00") + elem(
            0xA3, b"\x81" + _s.pack(">h", 0) + b"\x02" + b"xx"))
        blob = header + elem(0x18538067, elem(
            0x1549A966, elem(0x2AD7B1, (1_000_000).to_bytes(4, "big")))
            + laced)
        for fn in (webm_sample_table, webm_sample_offsets):
            with pytest.raises(ValueError, match="laced"):
                fn(blob)

    def test_webm_encode_rel_timestamp_overflow_is_loud(self):
        import pytest

        from zdb_spark.operators.multimodal import webm_encode

        with pytest.raises(ValueError, match="int16"):
            webm_encode(8, 8, 60.0, cluster_every_ms=60000,
                        frames=[(0, True, b"a"), (40000, True, b"b")])

    def test_mp4_truncated_chunk_boxes_are_loud(self):
        """r16 review: stsc/stco header reads must raise the module's
        ValueError, never struct.error, on sub-8-byte boxes."""
        import struct as _s

        import pytest

        from zdb_spark.operators.multimodal import _mp4_box as box
        from zdb_spark.operators.multimodal import (mp4_encode,
                                                    mp4_sample_offsets)

        # hand-assembled container with a 6-byte stsc payload (box
        # sizes stay consistent — a byte-replace would corrupt the
        # enclosing sizes and fail elsewhere)
        ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0x200) + b"isom")
        mvhd = box(b"mvhd", _s.pack(">B3x4I", 0, 0, 0, 1000, 1000)
                   + b"\x00" * 80)
        tkhd = box(b"tkhd", _s.pack(">B3x", 0) + b"\x00" * 72
                   + _s.pack(">II", 8 << 16, 8 << 16))
        mdhd = box(b"mdhd", _s.pack(">B3x4I2H", 0, 0, 0, 1000, 1000,
                                    0x55C4, 0))
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12
                   + b"V\x00")
        stts = box(b"stts", _s.pack(">B3xI", 0, 1)
                   + _s.pack(">II", 1, 1))
        stsz = box(b"stsz", _s.pack(">B3xII", 0, 0, 1)
                   + _s.pack(">I", 2))
        stbl = box(b"stbl", stts + stsz + box(b"stsc", b"\x00" * 6))
        trak = box(b"trak", tkhd + box(
            b"mdia", mdhd + hdlr + box(b"minf", stbl)))
        blob = ftyp + box(b"moov", mvhd + trak) + box(b"mdat", b"ab")
        with pytest.raises(ValueError, match="stsc cut short"):
            mp4_sample_offsets(blob)

    def test_webm_frame_samples_policies(self, spark):
        from zdb_spark.operators.multimodal import (webm_encode,
                                                    webm_frame_samples)

        frames = [(i * 40, i % 2 == 0, bytes([97 + i]) * (i + 1))
                  for i in range(6)]
        blob = webm_encode(32, 24, 0.24, frames=frames,
                           cluster_every_ms=100)
        df = spark.createDataFrame([(3, bytearray(blob)), (4, None)],
                                   "id long, blob binary")
        keys = webm_frame_samples(df, "blob", "id",
                                  keyframes_only=True,
                                  with_bytes=True).collect()
        assert [(r.frame_idx, r.t_units, bytes(r.sample))
                for r in keys] == [
            (0, 0, b"a"), (2, 80, b"ccc"), (4, 160, b"eeeee")]
        assert all(r.id == 3 and r.keyframe for r in keys)

    def test_webm_vint_bounded_by_enclosure(self):
        """Round-12 advice pin: a vint cut off by its ENCLOSING
        element's end must report truncation at the vint instead of
        consuming the sibling element's bytes (here, Tracks follows the
        malformed Info)."""
        import pytest

        from zdb_spark.operators.multimodal import _ebml_elem as elem
        from zdb_spark.operators.multimodal import webm_probe

        header = elem(0x1A45DFA3, elem(0x4282, b"webm"))
        bad_info = elem(0x1549A966, b"\x40")   # 2-byte vint, 1 byte left
        seg = elem(0x18538067, bad_info + elem(0x1654AE6B, b""))
        with pytest.raises(ValueError, match="vint cut short"):
            webm_probe(header + seg)

    def test_decode_video_webm_path(self, spark):
        from zdb_spark.operators.multimodal import (decode_video,
                                                    webm_encode)

        codecs = ["V_VP9", "V_VP8", "V_AV1"]
        rows = [(i, webm_encode(640 + i, 360 + i, float(i + 1),
                                codec_id=codecs[i]))
                for i in range(3)]
        df = spark.createDataFrame(rows, "id long, blob binary")
        out = {r.id: r for r in
               decode_video(df, decoder="webm").collect()}
        for i in range(3):
            r = out[i]
            assert (r.fmt, r.codec, r.width, r.height, r.n_frames,
                    r.duration_s) == ("webm", codecs[i], 640 + i,
                                      360 + i, 0, float(i + 1))

    def test_webm_audio_only_rejected(self):
        import pytest

        from zdb_spark.operators.multimodal import (webm_encode,
                                                    webm_probe)

        audio = webm_encode(32, 32, 1.0).replace(b"\x83\x81\x01",
                                                 b"\x83\x81\x02")
        with pytest.raises(ValueError, match="video track"):
            webm_probe(audio)


class TestRound11ReviewFixes:
    """Pins for the round-11 review findings."""

    def test_jpeg_fill_bytes_before_marker(self):
        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode)

        blob = bytearray(jpeg_encode(16, 12, (70,)))
        i = bytes(blob).find(b"\xff\xdb")
        blob[i:i] = b"\xff\xff"            # T.81 B.1.1.2 fill bytes
        assert jpeg_decode_pixels(bytes(blob)).shape == (12, 16)

    def test_jpeg_non_interleaved_decodes(self):
        """Spec-legal NON-INTERLEAVED baseline (one scan per component,
        T.81 A.2.3) must decode identically to the interleaved layout —
        the round-11 review caught the first-scan-only silent-grayscale
        failure; now the full multi-scan path is real."""
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        yy, xx = np.mgrid[0:30, 0:41]
        px = np.zeros((30, 41, 3), dtype=np.uint8)
        px[..., 0] = (xx * 5) % 256
        px[..., 1] = (yy * 7) % 256
        px[..., 2] = 77
        for sub in ("444", "420"):
            a = jpeg_decode_pixels(jpeg_encode_pixels(
                px, quality=90, subsampling=sub, interleave=True))
            b = jpeg_decode_pixels(jpeg_encode_pixels(
                px, quality=90, subsampling=sub, interleave=False))
            assert np.array_equal(a, b)          # same coefficients
        # truncated multi-scan file (missing chroma scans) fails LOUDLY
        import pytest as _pt

        blob = bytearray(jpeg_encode_pixels(px, interleave=False))
        second_sos = bytes(blob).find(b"\xff\xda",
                                      bytes(blob).find(b"\xff\xda") + 2)
        with _pt.raises(Exception):
            jpeg_decode_pixels(bytes(blob[:second_sos]) + b"\xff\xd9")

    def test_jpeg_resize_rejects_degenerate_dims(self):
        import pytest as _pt

        from zdb_spark.operators.jpeg import jpeg_encode
        from zdb_spark.operators.multimodal import jpeg_resize

        with _pt.raises(ValueError, match="positive"):
            jpeg_resize(jpeg_encode(8, 8, (9,)), 0, 5)

    def test_tar_export_null_member_raises(self, spark, tmp_path):
        import pytest as _pt

        from zdb_spark.sources.writers import export_tar_shards

        df = spark.createDataFrame([(1, "ok"), (2, None)],
                                   "doc_id long, txt string")
        with _pt.raises(Exception, match="NULL member"):
            export_tar_shards(df, str(tmp_path / "t"), 2, "doc_id",
                              {"txt": "txt"})

    def test_covariance_overflow_refused_loudly(self, spark):
        import pytest as _pt

        from zdb_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame([(0, [1e14, 2.0]), (1, [1.0, 1.0])],
                                   "vec_id long, embedding array<double>")
        with _pt.raises(Exception, match="1e13|overflow"):
            embedding_covariance(df, dim=2).collect()
        # the gram path handles the same magnitudes (float sums)
        rows = embedding_covariance(df, dim=2, method="gram").collect()
        assert len(rows) == 4


class TestJpegSingleComponentSampling:
    def test_grayscale_2x2_sampling_decodes_raster(self):
        """A 1-component frame declaring 2x2 sampling must decode its
        (always non-interleaved, T.81 A.2) scan in plain raster order,
        NOT an MCU-lattice walk — the round-11 second-review finding
        (scrambled pixels at 16-multiples, EOFError otherwise)."""
        import numpy as np

        from zdb_spark.operators.jpeg import (jpeg_decode_pixels,
                                              jpeg_encode_pixels)

        for dim in (32, 24):
            g = (np.add.outer(np.arange(dim) * 7, np.arange(dim) * 11)
                 % 256).astype(np.uint8)
            blob = bytearray(jpeg_encode_pixels(g, quality=95))
            i = bytes(blob).find(b"\xff\xc0")
            hv_off = i + 11              # SOF0: marker+len+prec+h+w+nc+cid
            assert blob[hv_off] == 0x11
            blob[hv_off] = 0x22
            dec = jpeg_decode_pixels(bytes(blob))
            assert dec.shape == g.shape
            assert np.abs(dec.astype(int) - g.astype(int)).mean() < 2


class TestTextIndexStore:
    """Persisted inverted text index (search.py:build/append_text_index
    + text_index_topk): query cost = the query terms' posting lists
    (bucket-partition pruning + term pushdown), output BIT-IDENTICAL to
    the live bm25_topk rescan on the same corpus."""

    def _docs(self, spark):
        import itertools

        words = ["table", "scan", "fast", "index", "spark", "join",
                 "quantile", "shuffle"]
        rows = [(i, " ".join(words[j % len(words)]
                             for j in range(i, i + 5 + i % 7)))
                for i in range(300)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_index_topk_equals_live_bm25_bitwise(self, spark, tmp_path):
        from zdb_spark.operators.search import (append_text_index,
                                                bm25_topk,
                                                build_text_index,
                                                text_index_topk)

        docs = self._docs(spark)
        p = str(tmp_path / "idx")
        build_text_index(docs.where("doc_id < 150"), p)
        append_text_index(docs.where("doc_id >= 150"), p, batch_id=1)
        for q in ("table scan fast", "quantile", "spark join shuffle"):
            live = [tuple(r) for r in
                    bm25_topk(docs, q, k=15).collect()]
            idx = [tuple(r) for r in
                   text_index_topk(spark, p, q, k=15).collect()]
            assert idx == live, q

    def test_replay_is_idempotent(self, spark, tmp_path):
        from zdb_spark.operators.search import (append_text_index,
                                                build_text_index,
                                                text_index_topk)

        docs = self._docs(spark)
        p = str(tmp_path / "idx")
        build_text_index(docs.where("doc_id < 200"), p)
        append_text_index(docs.where("doc_id >= 200"), p, batch_id=1)
        before = [tuple(r) for r in
                  text_index_topk(spark, p, "table scan").collect()]
        append_text_index(docs.where("doc_id >= 200"), p, batch_id=1)
        after = [tuple(r) for r in
                 text_index_topk(spark, p, "table scan").collect()]
        assert after == before

    def test_query_reads_prune_to_term_buckets(self, spark, tmp_path):
        """The 100 TB contract: the postings scan must carry a
        PartitionFilters entry on the bucket column, so non-query
        buckets are never read."""
        from zdb_spark.operators.search import (_term_bucket_py,
                                                build_text_index,
                                                text_index_topk)

        p = str(tmp_path / "idx")
        build_text_index(self._docs(spark), p)
        out = text_index_topk(spark, p, "quantile", k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        b = _term_bucket_py("quantile", 64)
        assert "PartitionFilters" in plan and "bucket" in plan
        assert f"{b}" in plan
        assert "PushedFilters" in plan and "term" in plan

    def test_build_refuses_to_clobber_and_empty_query(self, spark,
                                                      tmp_path):
        import pytest

        from zdb_spark.operators.search import (build_text_index,
                                                text_index_topk)

        p = str(tmp_path / "idx")
        build_text_index(self._docs(spark), p)
        with pytest.raises(FileExistsError):
            build_text_index(self._docs(spark), p)
        with pytest.raises(ValueError, match="empty query"):
            text_index_topk(spark, p, "   ")

    def test_compact_and_vacuum_preserve_scores(self, spark, tmp_path):
        """Compaction must flip the generation pointer (a reader can
        never sum source + compacted postings — that would double every
        df) and preserve scores exactly; vacuum reclaims old gens;
        appends keep working post-compaction."""
        import os

        from zdb_spark.operators.search import (append_text_index,
                                                bm25_topk,
                                                build_text_index,
                                                compact_text_index,
                                                text_index_topk,
                                                vacuum_text_index)

        docs = self._docs(spark)
        p = str(tmp_path / "idx")
        build_text_index(docs.where("doc_id < 100"), p)
        append_text_index(docs.where("doc_id >= 100 and doc_id < 200"),
                          p, batch_id=1)
        q = "table scan fast"
        before = [tuple(r) for r in
                  text_index_topk(spark, p, q, k=15).collect()]
        assert compact_text_index(spark, p) == 2
        assert os.path.isdir(os.path.join(p, "gen=0"))  # until vacuum
        assert [tuple(r) for r in
                text_index_topk(spark, p, q, k=15).collect()] == before
        assert vacuum_text_index(p) == 1
        assert not os.path.isdir(os.path.join(p, "gen=0"))
        # post-compaction append lands in the new generation; the full
        # index still matches the live rescan bit-for-bit
        append_text_index(docs.where("doc_id >= 200"), p, batch_id=2)
        live = [tuple(r) for r in bm25_topk(docs, q, k=15).collect()]
        assert [tuple(r) for r in
                text_index_topk(spark, p, q, k=15).collect()] == live
        # nothing to fold after a fresh compaction of 1 batch? two
        # batches again now (compacted + batch=2) -> folds 2
        assert compact_text_index(spark, p) == 2

    def test_delete_docs_matches_live_rescan_of_remaining(self, spark,
                                                          tmp_path):
        """Tombstone deletes: after removing a doc set, every query
        answers bit-identically to the live bm25 over the REMAINING
        corpus (n, avgdl, df all corrected from the same atomic delete
        ledger); replayed and repeated deletes adjust nothing; the next
        compaction physically drops the postings and empties the
        ledger."""
        import os

        from zdb_spark.operators.search import (bm25_topk,
                                                build_text_index,
                                                compact_text_index,
                                                delete_from_text_index,
                                                text_index_topk,
                                                vacuum_text_index)

        docs = self._docs(spark)
        p = str(tmp_path / "idx")
        build_text_index(docs, p)
        gone = docs.where("doc_id % 7 = 0").select("doc_id")
        kept = docs.where("doc_id % 7 != 0")
        assert delete_from_text_index(spark, p, gone, batch_id="d0")
        q = "table scan fast"
        live = [tuple(r) for r in bm25_topk(kept, q, k=15).collect()]
        assert [tuple(r) for r in
                text_index_topk(spark, p, q, k=15).collect()] == live
        # replay (same batch id) is a published no-op; a second delete
        # of already-deleted ids adjusts nothing
        assert not delete_from_text_index(spark, p, gone, batch_id="d0")
        assert delete_from_text_index(spark, p, gone, batch_id="d1")
        assert [tuple(r) for r in
                text_index_topk(spark, p, q, k=15).collect()] == live
        # compaction folds the deletes away physically
        assert compact_text_index(spark, p) >= 1
        vacuum_text_index(p)
        gdir = os.path.join(p, "gen=1")
        assert not os.path.isdir(os.path.join(gdir, "deletes"))
        assert [tuple(r) for r in
                text_index_topk(spark, p, q, k=15).collect()] == live
        # deleted docs never rank
        got_ids = {r[0] for r in
                   text_index_topk(spark, p, q, k=300).collect()}
        assert not any(i % 7 == 0 for i in got_ids)

    def test_query_term_named_like_id_column(self, spark, tmp_path):
        """A query term spelled exactly like the id column must not
        collide with the pivot output (terms pivot under positional
        aliases) — and still score bit-identically to the live path."""
        from zdb_spark.operators.search import (bm25_topk,
                                                build_text_index,
                                                text_index_topk)

        df = spark.createDataFrame(
            [(i, f"doc_id scan w{i % 9} table") for i in range(60)],
            "doc_id long, text string")
        p = str(tmp_path / "idx")
        build_text_index(df, p)
        q = "doc_id scan"
        live = [tuple(r) for r in bm25_topk(df, q, k=10).collect()]
        got = [tuple(r) for r in
               text_index_topk(spark, p, q, k=10).collect()]
        assert got == live
