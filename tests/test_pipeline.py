"""Pipeline-operator tests: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hgraphstorage_spark.pipeline import (
    cosine_topk,
    exact_dedup,
    exact_dup_groups,
    fingerprint,
    language_id,
    lsh_bucket_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_stats,
    simhash,
    token_counts,
)
from hgraphstorage_spark.pipeline.dedup import hamming64

from tests.conftest import SF_DIR, bag


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (0, base, "en"),
        (1, base, "en"),  # exact dup of 0
        (2, base.replace("lazy", "sleepy"), "en"),  # near dup of 0
        (3, "der hund und die katze spielen in der garten unter der sonne heute", "de"),
        (4, "completely different content about spark engines and distributed query planning", "en"),
        (5, "", "en"),  # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestDedup:
    def test_exact_dedup_keeps_min_id(self, docs):
        kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
        assert kept == [0, 2, 3, 4, 5]  # doc 1 removed, rep = min id 0

    def test_dup_groups(self, docs):
        groups = exact_dup_groups(docs).collect()
        assert len(groups) == 1
        assert (groups[0]["keep_id"], groups[0]["n_dups"]) == (0, 2)

    def test_minhash_identical_docs_identical_sigs(self, docs):
        sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, k=16).collect()}
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[4]

    def test_minhash_lsh_finds_near_dups(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"]): float(r["jaccard"])
            for r in minhash_lsh_pairs(docs, threshold=0.35, k=32, bands=16).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        # one word changed out of 17 → 5-word-shingle jaccard ≈ 0.44
        assert (0, 2) in pairs and 0.35 <= pairs[(0, 2)] < 1.0
        assert (0, 4) not in pairs and (0, 3) not in pairs

    def test_ngram_jaccard_blocked(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"]): float(r["jaccard"])
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3, block_col="lang").collect()
        }
        assert (0, 1) in pairs
        assert (0, 2) in pairs
        # blocking: doc 3 is 'de' — never compared
        assert not any(3 in p for p in pairs)

    def test_simhash_hamming(self, spark, docs):
        sh = simhash(docs)
        a = sh.alias("a")
        b = sh.alias("b")
        dist = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
            )
            .collect()
        )
        dmap = {(r["da"], r["db"]): r["d"] for r in dist}
        assert dmap[(0, 1)] == 0  # identical docs
        assert dmap[(0, 2)] < dmap[(0, 4)]  # near dup closer than unrelated


class TestSimilarity:
    def test_bruteforce_topk(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        top = cosine_topk(emb, query_id=0, k=5).collect()
        assert len(top) == 5
        scores = [float(r["score"]) for r in top]
        assert scores == sorted(scores, reverse=True)
        assert all(r["vec_id"] != 0 for r in top)

    def test_lsh_results_subset_scored_identically(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {r["vec_id"]: float(r["score"]) for r in cosine_topk(emb, 0, k=200).collect()}
        approx = lsh_bucket_topk(emb, 0, k=10, bits=4).collect()
        assert len(approx) > 0
        for r in approx:  # same cosine values where they overlap
            if r["vec_id"] in exact:
                assert abs(float(r["score"]) - exact[r["vec_id"]]) < 1e-9


class TestMMR:
    def test_diversifies_vs_greedy(self, spark):
        """A near-duplicate of the first pick gets demoted below a less
        relevant but diverse candidate at a diversity-heavy lambda."""
        from hgraphstorage_spark.pipeline.similarity import mmr_topk

        rows = [
            (0, [1.0, 0.0, 0.0]),  # query
            (1, [1.0, 0.0, 0.0]),  # exact duplicate of the query direction
            (2, [0.99, 0.141, 0.0]),  # near-dup of 1
            (3, [0.6, 0.8, 0.0]),  # diverse, lower relevance
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = mmr_topk(emb, query_id=0, k=3, pool=3, lam=0.3).collect()
        order = [r["vec_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
        assert order == [1, 3, 2]  # greedy-by-relevance would be [1, 2, 3]

    def test_matches_numpy_replica(self, spark):
        """MMR selection over real sf0.001 embeddings matches a brute
        force numpy replica of the same greedy rule (round-6 decimals)."""
        import numpy as np
        from hgraphstorage_spark.pipeline.similarity import mmr_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        k, pool, lam = 5, 12, 0.7
        got = {
            r["mmr_rank"]: (r["vec_id"], float(r["mmr_score"]))
            for r in mmr_topk(emb, query_id=0, k=k, pool=pool, lam=lam).collect()
        }
        rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        q = rows[0]

        def cos(a, b):
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        rel = {i: round(cos(v, q), 6) for i, v in rows.items() if i != 0}
        cand = sorted(rel, key=lambda i: (-rel[i], i))[:pool]
        # red starts at None (max over the empty selected set -> penalty
        # 0 in round 1); negative similarities KEEP their sign after
        red = {i: None for i in cand}
        expected = {}
        for r in range(1, k + 1):
            mmr = {
                i: round(
                    lam * rel[i]
                    - (1 - lam) * (red[i] if red[i] is not None else 0.0),
                    6,
                )
                for i in cand
            }
            pick = min(cand, key=lambda i: (-mmr[i], i))
            expected[r] = (pick, mmr[pick])
            cand.remove(pick)
            for i in cand:
                s = round(cos(rows[i], rows[pick]), 6)
                red[i] = s if red[i] is None else max(red[i], s)
        assert got == {r: (v, pytest.approx(s, abs=2e-6)) for r, (v, s) in expected.items()}

    def test_short_pool_stops(self, spark):
        from hgraphstorage_spark.pipeline.similarity import mmr_topk

        rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.1, 0.9])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = mmr_topk(emb, query_id=0, k=5, pool=5, lam=0.5).collect()
        assert sorted(r["mmr_rank"] for r in out) == [1, 2]

    def test_negative_similarity_is_a_diversity_bonus(self, spark):
        """A candidate anti-similar to everything selected keeps its
        NEGATIVE max-similarity (mmr > lam*rel), per the cited formula —
        a 0-clamped redundancy would erase the bonus."""
        from hgraphstorage_spark.pipeline.similarity import mmr_topk

        rows = [
            (0, [1.0, 0.0]),  # query
            (1, [0.9, 0.1]),  # first pick (high relevance)
            (2, [0.1, -0.99]),  # small positive rel, NEGATIVE sim to 1
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["mmr_rank"]: r for r in mmr_topk(emb, 0, k=2, pool=2, lam=0.7).collect()}
        assert out[1]["vec_id"] == 1 and out[2]["vec_id"] == 2
        rel2 = float(out[2]["relevance"])
        assert float(out[2]["mmr_score"]) > round(0.7 * rel2, 6)


class TestEmbeddingStatsAndSQ:
    def test_stats_match_numpy(self, spark):
        import numpy as np

        from hgraphstorage_spark.pipeline.similarity import embedding_stats

        rng = [[float(i + j) for j in range(4)] for i in range(6)]
        emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
        )
        got = {r["pos"]: r for r in embedding_stats(emb).collect()}
        X = np.array(rng)
        for d in range(4):
            assert got[d]["n"] == 6
            assert float(got[d]["mean"]) == round(X[:, d].mean(), 6)
            assert float(got[d]["std"]) == round(X[:, d].std(), 6)
            assert got[d]["vmin"] == X[:, d].min() and got[d]["vmax"] == X[:, d].max()

    def test_sq_topk_ranking_and_quantization(self, spark):
        from hgraphstorage_spark.pipeline.similarity import cosine_topk, sq_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        exact = [r["vec_id"] for r in cosine_topk(emb, 0, 10).collect()]
        approx = [r["vec_id"] for r in sq_topk(emb, 0, 10, bits=8).collect()]
        # 8-bit reconstruction error is ~1e-2: high overlap with exact
        assert len(set(exact) & set(approx)) >= 7
        # 1-bit codes still produce a full deterministic result set
        coarse = sq_topk(emb, 0, 10, bits=1).collect()
        assert len(coarse) == 10

    def test_sq_constant_dimension_safe(self, spark):
        from hgraphstorage_spark.pipeline.similarity import sq_topk

        emb = spark.createDataFrame(
            [(0, [1.0, 5.0]), (1, [1.0, 7.0]), (2, [1.0, -3.0])],
            "vec_id long, embedding array<float>",
        )
        got = sq_topk(emb, 0, 2, bits=8).collect()
        assert [r["vec_id"] for r in got] == [1, 2]  # same-direction first


class TestPCA:
    def test_fit_and_project_match_numpy(self, spark):
        import numpy as np

        from hgraphstorage_spark.pipeline.similarity import pca_fit, pca_project

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(4)
        mean, comps, ev = pca_fit(emb, k=6)
        X = np.vstack([r["embedding"] for r in emb.orderBy("vec_id").collect()]).astype(float)
        w, v = np.linalg.eigh(np.cov(X.T, bias=True))
        order = np.argsort(w)[::-1][:6]
        ref = v[:, order].T
        flip = np.sign(ref[np.arange(6), np.abs(ref).argmax(axis=1)])
        flip[flip == 0] = 1.0
        ref = ref * flip[:, None]
        assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
        assert np.allclose(ev, w[order], atol=1e-9)
        assert np.allclose(comps, ref, atol=1e-7)
        proj = pca_project(emb, k=6, fit=(mean, comps, ev)).orderBy("vec_id").collect()
        P = np.vstack([r["proj"] for r in proj])
        assert np.allclose(P, (X - X.mean(axis=0)) @ ref.T, atol=1e-6)
        # projected variance per component equals its eigenvalue
        assert np.allclose(P.var(axis=0), ev, rtol=1e-6)

    def test_empty_input_raises(self, spark):
        from hgraphstorage_spark.pipeline.similarity import pca_fit

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            pca_fit(empty, k=2)


class TestEmbeddingNearDup:
    def test_exact_pairs_symmetric_threshold(self, spark):
        from hgraphstorage_spark.pipeline import embedding_near_dup_exact

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        pairs = embedding_near_dup_exact(emb, threshold=0.3).collect()
        assert len(pairs) > 0
        for r in pairs:
            assert r["vec_a"] < r["vec_b"]
            assert float(r["score"]) >= 0.3

    @pytest.mark.slow
    def test_lsh_subset_of_exact_with_recall(self, spark):
        from hgraphstorage_spark.pipeline import (
            embedding_near_dup_exact,
            embedding_near_dup_lsh,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {(r["vec_a"], r["vec_b"]) for r in embedding_near_dup_exact(emb, 0.3).collect()}
        approx = {(r["vec_a"], r["vec_b"]) for r in embedding_near_dup_lsh(emb, 0.3).collect()}
        assert approx <= exact  # verify step guarantees no false positives
        assert len(approx) >= len(exact) // 2  # tuned for high recall


class TestText:
    def test_token_counts(self, docs):
        rows = {r["doc_id"]: r for r in token_counts(docs).collect()}
        assert rows[0]["n_tokens"] == 17
        assert rows[5]["n_tokens"] == 0
        assert rows[5]["n_chars"] == 0

    def test_quality_stats_null_on_empty(self, docs):
        rows = {r["doc_id"]: r for r in quality_stats(docs).collect()}
        assert rows[5]["chars_per_token"] is None
        assert rows[0]["punct_ratio"] is not None and float(rows[0]["punct_ratio"]) == 0.0

    def test_language_id(self, docs):
        rows = {r["doc_id"]: r["lang_guess"] for r in language_id(docs).collect()}
        assert rows[0] == "en"
        assert rows[3] == "de"
        assert rows[5] == "und"

    def test_tfidf_rare_terms_outrank_stopwords(self, docs):
        from hgraphstorage_spark.pipeline import tfidf_top_terms

        rows = tfidf_top_terms(docs, k=3).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], float(r["tfidf"])))
        # 'the' appears in 3 of 6 docs; doc 4's unique vocabulary must win
        top4 = [t for _, t, _ in sorted(by_doc[4])]
        assert "the" not in top4
        assert all(r[0][2] >= r[-1][2] for r in [sorted(by_doc[4])])
        # empty doc contributes no terms
        assert 5 not in by_doc

    def test_quality_filter_rules(self, spark):
        from hgraphstorage_spark.pipeline import quality_filter

        df = spark.createDataFrame(
            [
                (0, "the quick brown fox jumps over a lazy dog near the old river bank"),
                (1, "spam spam spam spam spam spam spam spam spam spam ham ham"),  # repetition
                (2, "too short"),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in quality_filter(df).collect()}
        assert rows[0]["passes"] is True
        assert rows[1]["passes"] is False and float(rows[1]["top_term_ratio"]) > 0.25
        assert rows[2]["passes"] is False  # below min_tokens
        assert rows[3]["passes"] is False and rows[3]["n_tokens"] == 0

    def test_fingerprint_invariant_to_whitespace(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "  hello world "), (3, "other")], "doc_id long, text string"
        )
        fps = {r["doc_id"]: r["fp"] for r in fingerprint(df).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestMultimodal:
    def test_extract_features_fake_decode(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import extract_features, synthetic_media

        media = synthetic_media(spark, 32)
        feats = extract_features(media, fake_decode=True).collect()
        assert len(feats) == 32
        assert all(r["decode_ok"] for r in feats)
        assert all(len(r["feature"]) == 8 for r in feats)
        # deterministic: same payload → same feature
        again = extract_features(synthetic_media(spark, 32), fake_decode=True).collect()
        assert sorted((r["media_id"], tuple(r["feature"])) for r in feats) == sorted(
            (r["media_id"], tuple(r["feature"])) for r in again
        )

    def test_real_mode_probes_headers(self, spark):
        """Real mode: container headers parse from actual bytes — valid
        PNG/JPEG/WAV/MP4 payloads decode_ok, corrupt images and corrupt
        videos fail honestly."""
        from hgraphstorage_spark.pipeline.multimodal import extract_features, synthetic_media

        feats = {r["media_id"]: r for r in extract_features(synthetic_media(spark, 30), fake_decode=False).collect()}
        for i, r in feats.items():
            kind = ["image", "audio", "video"][i % 3]
            if (kind == "image" and i % 15 == 0) or (kind == "video" and i % 15 == 2):
                assert not r["decode_ok"], i
            else:
                assert r["decode_ok"], i
                if kind in ("image", "video"):
                    assert r["feature"][0] == float(64 + i)  # width from real header
                    assert r["feature"][1] == float(48 + i)

    def test_parse_media_header_formats(self):
        from hgraphstorage_spark.pipeline.multimodal import (
            jpeg_header_bytes,
            parse_media_header,
            png_bytes,
            wav_bytes,
        )

        assert parse_media_header(png_bytes(640, 480)) == ("png", 640, 480, None)
        assert parse_media_header(jpeg_header_bytes(123, 77)) == ("jpeg", 123, 77, None)
        assert parse_media_header(wav_bytes(2500)) == ("wav", None, None, 2500)
        assert parse_media_header(b"garbage-not-a-container") is None
        assert parse_media_header(None) is None
        # the PNG is a complete valid file: walk chunks, inflate the IDAT
        import struct
        import zlib

        png = png_bytes(4, 2)
        pos, idat = 8, b""
        while pos < len(png):
            (length,) = struct.unpack(">I", png[pos : pos + 4])
            ctype = png[pos + 4 : pos + 8]
            data = png[pos + 8 : pos + 8 + length]
            crc = struct.unpack(">I", png[pos + 8 + length : pos + 12 + length])[0]
            assert crc == zlib.crc32(ctype + data)  # every chunk CRC holds
            if ctype == b"IDAT":
                idat += data
            pos += 12 + length
        scanlines = zlib.decompress(idat)
        assert len(scanlines) == 2 * (1 + 4)  # height × (filter byte + width)

    def test_probe_metadata_catches_lying_meta(self, spark):
        """Declared meta says every image is a healthy png; the probe reads
        bytes and flags the corrupt ones (media_id % 15 == 0)."""
        from hgraphstorage_spark.pipeline.multimodal import probe_metadata, synthetic_media

        rows = {r["media_id"]: r for r in probe_metadata(synthetic_media(spark, 31)).collect()}
        assert not rows[0]["decode_ok"] and rows[0]["codec"] is None  # corrupt
        assert rows[15]["decode_ok"] is False
        assert rows[6]["codec"] == "png" and rows[6]["width"] == 70
        assert rows[3]["codec"] == "jpeg" and rows[3]["height"] == 51
        assert rows[1]["codec"] == "wav" and rows[1]["duration_ms"] == 5100
        # videos: real ISO-BMFF probed (mvhd duration + tkhd dims); the
        # corrupt one (i % 15 == 2) flagged
        assert rows[5]["codec"] == "mp4" and rows[5]["width"] == 69
        assert rows[5]["duration_ms"] == 5500 and rows[5]["decode_ok"]
        assert not rows[2]["decode_ok"] and rows[2]["codec"] is None

    def test_frame_sample_plan_metadata_only(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import frame_sample_plan, synthetic_media

        plan = frame_sample_plan(synthetic_media(spark, 9), every_ms=1000)
        rows = plan.collect()
        assert all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
        assert len({r["media_id"] for r in rows}) == 3  # only videos

    def test_resize_images_aspect_preserving(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import resize_images, synthetic_media

        media = synthetic_media(spark, 30)  # images have width 64+i, height 48+i
        out = {r["media_id"]: r for r in resize_images(media, 64, 64, fake_decode=True).collect()}
        assert len(out) == 10  # only image rows
        for mid, r in out.items():
            assert r["resize_ok"]
            assert r["width"] <= 64 and r["height"] <= 64
            # aspect preserved within integer truncation
            src_w, src_h = 64 + mid, 48 + mid
            assert abs(r["width"] / r["height"] - src_w / src_h) < 0.1

    def test_resize_real_mode_tiering(self, spark):
        """Real-mode tiering over the first 9 media rows: the PNG row
        (media_id 6) now resizes for REAL via the pure-numpy PNG path;
        JPEG (no Pillow here) and corrupt payloads stay honestly failed."""
        from hgraphstorage_spark.pipeline.multimodal import resize_images, synthetic_media

        out = {r["media_id"]: r for r in resize_images(synthetic_media(spark, 9), fake_decode=False).collect()}
        assert len(out) == 3
        assert not out[0]["resize_ok"]  # corrupt garbage
        assert out[3]["resize_ok"]      # baseline jpeg: pure-numpy real resize
        assert out[6]["resize_ok"]      # png: pure-numpy real resize

    def test_resize_real_bmp_nearest_neighbor(self, spark):
        """24-bit BMP resize is REAL end-to-end: the output payload is a
        valid BMP whose pixels equal the numpy nearest-neighbor resample
        of the decoded source."""
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            bmp_bytes,
            decode_bmp_pixels,
            resize_images,
            synthetic_media,
        )

        out = {
            r["media_id"]: r
            for r in resize_images(synthetic_media(spark, 30), 64, 64, fake_decode=False).collect()
        }
        bmp_ids = [i for i in range(30) if i % 3 == 0 and i % 15 != 0 and i % 12 == 9]
        assert bmp_ids == [9, 21]
        for i in bmp_ids:
            r = out[i]
            assert r["resize_ok"], i
            got = decode_bmp_pixels(r["payload"])
            src = decode_bmp_pixels(bmp_bytes(64 + i, 48 + i))
            sh, sw = src.shape[:2]
            scale = min(64 / sw, 64 / sh, 1.0)
            tw, th = max(1, int(sw * scale)), max(1, int(sh * scale))
            assert (r["width"], r["height"]) == (tw, th)
            yi, xi = (np.arange(th) * sh) // th, (np.arange(tw) * sw) // tw
            assert np.array_equal(got, src[yi][:, xi])
        # every synthetic image family is now in the pure-numpy real tier
        assert out[3]["resize_ok"] and out[6]["resize_ok"]

    def test_real_content_features_bmp_wav(self, spark):
        """extract_features real mode: BMP pixel stats and WAV sample stats
        are content-derived — they match numpy computed directly on the
        generated payloads."""
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            bmp_bytes,
            decode_wav_samples,
            extract_features,
            synthetic_media,
            wav_bytes,
        )

        feats = {
            r["media_id"]: r
            for r in extract_features(synthetic_media(spark, 24), fake_decode=False).collect()
        }
        # media_id 9: BMP 73x57 — mean/min/max/std of the gradient pixels
        from hgraphstorage_spark.pipeline.multimodal import decode_bmp_pixels

        px = decode_bmp_pixels(bmp_bytes(64 + 9, 48 + 9)).astype("float64") / 255.0
        f9 = feats[9]["feature"]
        assert f9[:2] == [73.0, 57.0]
        for got, want in zip(f9[4:], [px.mean(), px.min(), px.max(), px.std()]):
            assert abs(got - want) < 1e-6, (got, want)
        # media_id 1: WAV sawtooth — mean/min/max/rms of the real samples
        x = decode_wav_samples(wav_bytes(5100, pattern=True))
        f1 = feats[1]["feature"]
        assert abs(f1[3] - 5.1) < 1e-6  # duration seconds (float32 column)
        for got, want in zip(f1[4:], [x.mean(), x.min(), x.max(), (x**2).mean() ** 0.5]):
            assert abs(got - want) < 1e-6, (got, want)

    def test_jpeg_marker_walk_robustness(self):
        """Fill bytes, RSTn/TEM standalone markers, and non-baseline SOFn
        variants all parse; SOS-before-SOF and stuffed-zero garbage fail
        cleanly."""
        import struct

        from hgraphstorage_spark.pipeline.multimodal import parse_media_header

        def seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

        sof_body = struct.pack(">BHHB", 8, 57, 73, 1) + b"\x01\x11\x00"
        app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        # fill bytes before the marker + a SOF1 (extended sequential) frame
        j1 = b"\xff\xd8" + app0 + b"\xff\xff\xff" + seg(0xC1, sof_body) + b"\xff\xd9"
        assert parse_media_header(j1) == ("jpeg", 73, 57, None)
        # standalone TEM and RST markers between segments, then SOF7
        j2 = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd3" + app0 + seg(0xC7, sof_body) + b"\xff\xd9"
        assert parse_media_header(j2) == ("jpeg", 73, 57, None)
        # DHT (0xC4) must NOT be taken for a frame header; SOF2 after it is
        j3 = b"\xff\xd8" + seg(0xC4, b"\x00" * 8) + seg(0xC2, sof_body) + b"\xff\xd9"
        assert parse_media_header(j3) == ("jpeg", 73, 57, None)
        # SOS before any SOF: entropy stream is unwalkable — honest None
        assert parse_media_header(b"\xff\xd8" + seg(0xDA, b"\x00" * 4) + b"\x12\x34") is None
        # stuffed zero where a marker should be: malformed
        assert parse_media_header(b"\xff\xd8\xff\x00\x12\x34\x56\x78\x9a\xbc") is None


class TestCharEntropy:
    def test_hand_computed(self, spark):
        from hgraphstorage_spark.pipeline.text import char_entropy

        docs = spark.createDataFrame(
            [(0, "aabb"), (1, "aaaa"), (2, "abcd"), (3, "")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: (r["n_chars"], float(r["entropy"])) for r in char_entropy(docs).collect()}
        assert got[0] == (4, 1.0)   # two symbols, equal: 1 bit
        assert got[1] == (4, 0.0)   # degenerate
        assert got[2] == (4, 2.0)   # uniform over 4
        assert got[3] == (0, 0.0)   # empty


class TestCompressionStats:
    def test_matches_python_zlib(self, spark, docs):
        import zlib

        from hgraphstorage_spark.pipeline.text import compression_stats

        raw = {r["doc_id"]: r["text"] for r in docs.collect()}
        got = {r["doc_id"]: r for r in compression_stats(docs).collect()}
        assert set(got) == set(raw)
        for d, t in raw.items():
            b = t.encode("utf-8")
            assert got[d]["n_bytes"] == len(b)
            assert got[d]["n_compressed"] == len(zlib.compress(b, 6))
            if b:
                assert float(got[d]["ratio"]) == round(got[d]["n_compressed"] / len(b), 6)
            else:
                assert got[d]["ratio"] is None

    def test_repetitive_compresses_below_random(self, spark):
        from hgraphstorage_spark.pipeline.text import compression_stats

        import random

        rng = random.Random(7)
        rand = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000))
        docs = spark.createDataFrame(
            [(0, "spam ham " * 250), (1, rand)], "doc_id long, text string"
        )
        got = {r["doc_id"]: float(r["ratio"]) for r in compression_stats(docs).collect()}
        assert got[0] < 0.1 < got[1]


class TestRepetitionExact:
    def test_hand_computed_covered_fractions(self, spark):
        """Paper-exact covered-token fractions on hand-worked fixtures:
        overlapping spans dedupe (doc 0 scores exactly 1.0, not >1 like
        the occurrence-counting approximation)."""
        from hgraphstorage_spark.pipeline.text import repetition_stats_exact

        rows = [
            (0, "a a a a a a"),        # top2 'a a' + dup3 'a a a' cover everything
            (1, "x y x y z q"),        # 'x y' at 0,2 covers tokens 0-3 -> 4/6; no dup 3-gram
            (2, "p q r p q r p q r"),  # dup3 'p q r' covers all 9; top2 'p q' covers 6/9
            (3, "one"),                # too short for any gram
            (4, ""),                   # zero tokens
            (5, "b b c b b"),          # top2 'b b' at 0,3 covers 0,1,3,4 -> 4/5
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_stats_exact(df).collect()}
        want = {
            0: (6, 1.0, 1.0),
            1: (6, 4 / 6, 0.0),
            2: (9, 6 / 9, 1.0),
            3: (1, 0.0, 0.0),
            4: (0, 0.0, 0.0),
            5: (5, 4 / 5, 0.0),
        }
        for i, (n, top2, dup3) in want.items():
            r = got[i]
            assert r["n_tokens"] == n, i
            assert r["top2_covered_frac"] == top2, i
            assert r["dup3_covered_frac"] == dup3, i

    def test_tie_breaks_lexicographically(self, spark):
        """Two grams tied at max frequency: the lexicographically smallest
        wins on both engines (SQL: ORDER BY count DESC, g ASC)."""
        from hgraphstorage_spark.pipeline.text import repetition_stats_exact

        df = spark.createDataFrame([(0, "z w z w a b a b")], "doc_id long, text string")
        r = repetition_stats_exact(df).collect()[0]
        # 'a b' and 'z w' both occur twice; 'a b' (positions 4,6) wins,
        # covering tokens 4..7 -> 4/8 either way here, but the *gram*
        # choice matters when coverage differs — pin via a skewed case
        assert r["top2_covered_frac"] == 0.5
        df2 = spark.createDataFrame([(0, "z w z w a b a b a b")], "doc_id long, text string")
        r2 = repetition_stats_exact(df2).collect()[0]
        # 'a b' occurs 3x (covers 4..9 = 6/10); if 'z w' (2x, 4/10) were
        # picked the fraction would differ
        assert r2["top2_covered_frac"] == 0.6


class TestDecontaminate:
    """Benchmark n-gram decontamination (pipeline/contamination.py)."""

    def test_exact_dup_of_benchmark_flags(self, spark, docs):
        from hgraphstorage_spark.pipeline.contamination import decontaminate

        bench = docs.filter(F.col("doc_id") == 0)
        corpus = docs.filter(F.col("doc_id") != 0)
        out = {r["doc_id"]: r.asDict() for r in decontaminate(corpus, bench, n=3).collect()}
        assert out[1]["contaminated"]  # exact dup: every shingle overlaps
        assert out[1]["n_overlap"] == out[1]["n_shingles"]
        assert out[2]["contaminated"]  # near dup: partial overlap
        assert 0 < out[2]["n_overlap"] < out[2]["n_shingles"]
        assert not out[3]["contaminated"] and out[3]["n_overlap"] == 0
        assert not out[4]["contaminated"]

    def test_min_hits_threshold(self, spark, docs):
        from hgraphstorage_spark.pipeline.contamination import decontaminate

        bench = docs.filter(F.col("doc_id") == 0)
        corpus = docs.filter(F.col("doc_id").isin(2, 4))
        strict = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(corpus, bench, n=3, min_hits=10**6).collect()
        }
        assert strict == {2: False, 4: False}

    def test_every_corpus_doc_reported(self, spark, docs):
        from hgraphstorage_spark.pipeline.contamination import decontaminate

        bench = docs.filter(F.col("doc_id") == 0)
        corpus = docs.filter(F.col("doc_id") != 0)
        assert decontaminate(corpus, bench).count() == corpus.count()


class TestBloomDecontaminate:
    """Fixed-memory Bloom-filter variant of decontaminate."""

    def test_no_false_negatives_and_large_m_equals_exact(self, spark, docs):
        from hgraphstorage_spark.pipeline.contamination import (
            bloom_decontaminate,
            decontaminate,
        )

        bench = docs.filter(F.col("doc_id") == 0)
        corpus = docs.filter(F.col("doc_id") != 0)
        exact = {r["doc_id"]: r.asDict() for r in decontaminate(corpus, bench, n=3).collect()}
        bloom = {
            r["doc_id"]: r.asDict()
            for r in bloom_decontaminate(corpus, bench, n=3, m_bits=1 << 20, k_hashes=4).collect()
        }
        assert set(bloom) == set(exact)
        for d, row in exact.items():
            # Bloom never misses a true overlap...
            if row["contaminated"]:
                assert bloom[d]["contaminated"], d
        # ...and at m=2^20 over a handful of shingles there are no false
        # positives either: flags and counts coincide with the exact op
        assert {d: r["contaminated"] for d, r in bloom.items()} == {
            d: r["contaminated"] for d, r in exact.items()
        }
        assert {d: r["n_hits"] for d, r in bloom.items()} == {
            d: r["n_overlap"] for d, r in exact.items()
        }

    def test_tiny_filter_false_positives_are_superset(self, spark, docs):
        from hgraphstorage_spark.pipeline.contamination import (
            bloom_decontaminate,
            decontaminate,
        )

        bench = docs.filter(F.col("doc_id") == 0)
        corpus = docs.filter(F.col("doc_id") != 0)
        exact = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(corpus, bench, n=3).collect()
        }
        # m=16 bits saturates: hit counts can only grow, never shrink
        tiny = {
            r["doc_id"]: r["contaminated"]
            for r in bloom_decontaminate(corpus, bench, n=3, m_bits=16, k_hashes=2).collect()
        }
        assert all(tiny[d] for d, c in exact.items() if c)


class TestHashSplit:
    """Deterministic hash-based splitting (pipeline/sampling.py)."""

    def test_total_and_deterministic(self, spark):
        from hgraphstorage_spark.pipeline.sampling import hash_split

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        a = bag(hash_split(df), ["doc_id", "split"])
        b = bag(hash_split(df.repartition(7)), ["doc_id", "split"])
        assert a == b  # partitioning/order never changes assignment
        assert len(a) == 1000

    def test_fractions_roughly_honored(self, spark):
        from hgraphstorage_spark.pipeline.sampling import hash_split

        df = spark.range(5000).withColumnRenamed("id", "doc_id")
        counts = {
            r["split"]: r["n"]
            for r in hash_split(df).groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        assert abs(counts["train"] / 5000 - 0.8) < 0.03
        assert abs(counts["val"] / 5000 - 0.1) < 0.02
        assert abs(counts["test"] / 5000 - 0.1) < 0.02

    def test_salt_gives_independent_split(self, spark):
        from hgraphstorage_spark.pipeline.sampling import hash_split

        df = spark.range(500).withColumnRenamed("id", "doc_id")
        a = dict(bag(hash_split(df, salt="a"), ["doc_id", "split"]))
        b = dict(bag(hash_split(df, salt="b"), ["doc_id", "split"]))
        assert a != b

    def test_bad_fractions_rejected(self, spark):
        from hgraphstorage_spark.pipeline.sampling import hash_split

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            hash_split(df, {"train": 0.5, "test": 0.4})


class TestStats:
    """Grouped percentiles (functions/stats.py)."""

    def test_exact_percentiles_known_values(self, spark):
        from hgraphstorage_spark.functions.stats import grouped_percentiles

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0), ("b", 5.0)],
            "g string, v double",
        )
        out = {r["g"]: r.asDict() for r in grouped_percentiles(df, "g", "v").collect()}
        assert float(out["a"]["p50"]) == 2.5  # linear interpolation
        assert float(out["a"]["p95"]) == 8.95
        assert out["a"]["n"] == 4 and float(out["a"]["mean"]) == 4.0
        assert float(out["b"]["p50"]) == 5.0

    def test_approx_close_to_exact(self, spark):
        from hgraphstorage_spark.functions.stats import grouped_percentiles

        df = spark.range(1000).select(F.lit("g").alias("g"), F.col("id").cast("double").alias("v"))
        exact = grouped_percentiles(df, "g", "v").collect()[0]
        approx = grouped_percentiles(df, "g", "v", exact=False).collect()[0]
        assert abs(float(exact["p50"]) - float(approx["p50"])) <= 1.0


class TestBM25:
    """BM25 relevance search (pipeline/search.py)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (0, "spark spark spark engine"),        # high tf on one term
            (1, "spark window join engine"),        # all three query terms
            (2, "window seat on the train"),        # one term
            (3, "completely unrelated text here"),  # no terms
            (4, "join join window"),                # two terms, high tf
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_multi_term_match_beats_single(self, corpus):
        from hgraphstorage_spark.pipeline.search import bm25_search

        out = bm25_search(corpus, "spark join window", k=10).collect()
        assert out[0]["doc_id"] == 1  # covers all terms -> top
        ids = [r["doc_id"] for r in out]
        assert 3 not in ids  # zero-match docs never returned
        assert [r["rank"] for r in out] == list(range(1, len(out) + 1))

    def test_k_limits(self, corpus):
        from hgraphstorage_spark.pipeline.search import bm25_search

        assert bm25_search(corpus, "spark join window", k=2).count() == 2

    def test_empty_query_rejected(self, corpus):
        from hgraphstorage_spark.pipeline.search import bm25_search

        with pytest.raises(ValueError):
            bm25_search(corpus, "   ")


class TestSamplingOps:
    """hash_sample / stratified_hash_sample / mix_corpus (pipeline/sampling.py)."""

    def test_hash_sample_fraction_and_stability(self, spark):
        from hgraphstorage_spark.pipeline.sampling import hash_sample

        df = spark.range(4000).withColumnRenamed("id", "doc_id")
        kept = hash_sample(df, 0.25)
        assert abs(kept.count() / 4000 - 0.25) < 0.03
        assert bag(kept) == bag(hash_sample(df.repartition(5), 0.25))
        assert hash_sample(df, 1.0).count() == 4000

    def test_stratified_fractions(self, spark):
        from hgraphstorage_spark.pipeline.sampling import stratified_hash_sample

        df = spark.range(3000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
        )
        out = stratified_hash_sample(df, "s", {"a": 1.0, "b": 0.2})
        counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
        assert counts["a"] == 1500  # fraction 1.0 keeps everything
        assert abs(counts["b"] / 1500 - 0.2) < 0.05

    def test_mix_corpus_epochs(self, spark):
        from hgraphstorage_spark.pipeline.sampling import mix_corpus

        df = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 4 == 0, "rep")      # weight 2.5
            .when(F.col("id") % 4 == 1, "drop")      # weight 0
            .otherwise("keep")                        # default 1.0
            .alias("source"),
        )
        out = mix_corpus(df, {"rep": 2.5, "drop": 0.0})
        by_src = {
            (r["source"], r["epoch"]): r["n"]
            for r in out.groupBy("source", "epoch").agg(F.count("*").alias("n")).collect()
        }
        assert by_src[("rep", 1)] == 500 and by_src[("rep", 2)] == 500  # 2 full epochs
        assert abs(by_src[("rep", 3)] / 500 - 0.5) < 0.1  # fractional half epoch
        assert not any(s == "drop" for s, _ in by_src)  # weight 0 emits nothing
        assert by_src[("keep", 1)] == 1000 and ("keep", 2) not in by_src

    def test_mix_deterministic(self, spark):
        from hgraphstorage_spark.pipeline.sampling import mix_corpus

        df = spark.range(300).select(F.col("id").alias("doc_id"), F.lit("s").alias("source"))
        a = bag(mix_corpus(df, {"s": 1.5}), ["doc_id", "epoch"])
        assert a == bag(mix_corpus(df.repartition(7), {"s": 1.5}), ["doc_id", "epoch"])


class TestRollingFeatures:
    def test_trailing_window(self, spark):
        """Events at 0/30/90 min: the 1h window at t=90 sees 30+90 only;
        boundaries are inclusive and per-user."""
        from hgraphstorage_spark.functions.timeseries import rolling_event_features

        rows = [
            (1, "2024-01-01 10:00:00", 7, 10.0),
            (2, "2024-01-01 10:30:00", 7, 20.0),
            (3, "2024-01-01 11:30:00", 7, 40.0),
            (4, "2024-01-01 10:45:00", 8, 5.0),
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r["event_id"]: r for r in rolling_event_features(ev).collect()}
        assert (out[1]["n_win"], float(out[1]["sum_win"])) == (1, 10.0)
        assert (out[2]["n_win"], float(out[2]["sum_win"])) == (2, 30.0)  # 10:00 in (inclusive)
        assert (out[3]["n_win"], float(out[3]["sum_win"])) == (2, 60.0)  # 10:00 aged out
        assert (out[4]["n_win"], float(out[4]["sum_win"])) == (1, 5.0)   # other user isolated
        assert float(out[3]["mean_win"]) == 30.0


class TestEwma:
    def test_recursive_fold_hand_computed(self, spark):
        from hgraphstorage_spark.functions.timeseries import ewma_features

        rows = [
            (1, "2024-01-01 00:00:00", 7, 10.0),
            (2, "2024-01-01 00:01:00", 7, 20.0),
            (3, "2024-01-01 00:02:00", 7, 30.0),
            (4, "2024-01-01 00:00:30", 8, 5.0),
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {r["event_id"]: float(r["ewma"]) for r in ewma_features(ev, alpha=0.5).collect()}
        assert got[1] == 10.0            # init = first value
        assert got[2] == 15.0            # 0.5*20 + 0.5*10
        assert got[3] == 22.5            # 0.5*30 + 0.5*15
        assert got[4] == 5.0             # separate key

    def test_lag_truncation(self, spark):
        from hgraphstorage_spark.functions.timeseries import ewma_features

        rows = [(i, f"2024-01-01 00:{i:02d}:00", 1, float(i)) for i in range(10)]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {r["event_id"]: float(r["ewma"]) for r in ewma_features(ev, alpha=0.5, lags=2).collect()}
        # with lags=2 each row sees only (prev, current): 0.5*v + 0.5*prev
        assert got[0] == 0.0
        for i in range(1, 10):
            assert got[i] == 0.5 * i + 0.5 * (i - 1)


class TestFunnel:
    def test_ordered_within_window(self, spark):
        """Step must be strictly after the previous step's first completion
        and within the window; out-of-order or too-late steps don't count."""
        from hgraphstorage_spark.functions.timeseries import funnel

        rows = [
            # user 1: clean view(10:00) -> click(10:30) -> purchase(11:00)
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:30:00", "click"),
            (1, "2024-01-01 11:00:00", "purchase"),
            # user 2: click BEFORE first view -> step 2 unmatched
            (2, "2024-01-01 09:00:00", "click"),
            (2, "2024-01-01 10:00:00", "view"),
            # user 3: click more than 1h after view -> outside window
            (3, "2024-01-01 10:00:00", "view"),
            (3, "2024-01-01 12:00:00", "click"),
            # user 4: two views; funnel anchors on the FIRST view
            (4, "2024-01-01 08:00:00", "view"),
            (4, "2024-01-01 10:00:00", "view"),
            (4, "2024-01-01 08:30:00", "click"),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {r["user_id"]: r for r in funnel(ev, ["view", "click", "purchase"], 3600).collect()}
        assert out[1]["t2"] is not None and out[1]["t3"] is not None
        assert out[2]["t2"] is None
        assert out[3]["t2"] is None
        assert str(out[4]["t1"]).startswith("2024-01-01 08:00") and out[4]["t2"] is not None

    def test_requires_two_steps(self, spark):
        from hgraphstorage_spark.functions.timeseries import funnel

        ev = spark.createDataFrame([(1, "2024-01-01", "view")], "user_id long, ts string, event_type string")
        with pytest.raises(ValueError):
            funnel(ev, ["view"])


class TestPerGroupCap:
    def test_cap_and_determinism(self, spark):
        from hgraphstorage_spark.pipeline.sampling import per_group_cap

        df = spark.range(500).select(
            F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("g")
        )
        out = per_group_cap(df, "g", 7)
        counts = [r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()]
        assert counts == [7, 7, 7]
        assert bag(out) == bag(per_group_cap(df.repartition(9), "g", 7))

    def test_small_groups_kept_whole(self, spark):
        from hgraphstorage_spark.pipeline.sampling import per_group_cap

        df = spark.range(4).select(F.col("id").alias("doc_id"), F.lit("g").alias("g"))
        assert per_group_cap(df, "g", 10).count() == 4


class TestRetentionCohorts:
    def test_periods_and_cohorts(self, spark):
        """User first seen in week W is active in period 0 always; a
        return 8 days later lands in period 1; users never mix cohorts."""
        from hgraphstorage_spark.functions.timeseries import retention_cohorts

        rows = [
            (7, "2024-01-02 10:00:00"),  # cohort week of 2024-01-01
            (7, "2024-01-10 10:00:00"),  # 8 days later -> period 1
            (8, "2024-01-09 09:00:00"),  # cohort week of 2024-01-08
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        got = {
            (str(r["cohort_week"]), r["period"]): r["n_users"]
            for r in retention_cohorts(ev).collect()
        }
        assert got == {
            ("2024-01-01 00:00:00", 0): 1,
            ("2024-01-01 00:00:00", 1): 1,
            ("2024-01-08 00:00:00", 0): 1,
        }


class TestLabelCentroids:
    def test_known_means(self, spark):
        from hgraphstorage_spark.pipeline import label_centroids

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 1), (1, [3.0, 2.0], 1), (2, [5.0, 5.0], 2)],
            "vec_id long, embedding array<float>, label int",
        )
        got = {(r["label"], r["pos"]): float(r["m"]) for r in label_centroids(emb).collect()}
        assert got == {(1, 0): 2.0, (1, 1): 1.0, (2, 0): 5.0, (2, 1): 5.0}


class TestKMeans:
    def test_two_direction_clusters(self, spark):
        from hgraphstorage_spark.pipeline.similarity import kmeans_iterations

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.1]),
                (1, [0.1, 1.0]),
                (2, [1.0, -0.1]),
                (3, [-0.1, 1.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        got = {r["vec_id"]: r["list_id"] for r in kmeans_iterations(emb, nlist=2, iterations=2).collect()}
        assert got[0] == got[2] == 0  # x-direction cluster keeps seed 0
        assert got[1] == got[3] == 1  # y-direction cluster keeps seed 1


class TestVocabulary:
    def test_top_k_with_doc_freq(self, spark):
        from hgraphstorage_spark.pipeline.text import vocabulary

        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a c"), (3, "b b b")], "doc_id long, text string"
        )
        rows = {r["token"]: r for r in vocabulary(docs, top_k=2).collect()}
        assert set(rows) == {"b", "a"}  # b: 4 total, a: 3 total
        assert rows["b"]["n_total"] == 4 and rows["b"]["doc_freq"] == 2
        assert rows["a"]["n_total"] == 3 and rows["a"]["doc_freq"] == 2
        assert rows["b"]["rank"] == 1 and rows["a"]["rank"] == 2

    def test_tie_break_by_token(self, spark):
        from hgraphstorage_spark.pipeline.text import vocabulary

        docs = spark.createDataFrame([(1, "z y x")], "doc_id long, text string")
        ranks = [r["token"] for r in vocabulary(docs, top_k=3).orderBy("rank").collect()]
        assert ranks == ["x", "y", "z"]


class TestChunkDedup:
    def test_duplicate_chunk_kept_once_globally(self, spark):
        from hgraphstorage_spark.pipeline.text import chunk_dedup

        # 4-word chunks: doc 1 = [c1, c2], doc 2 = [c1 again, c3]
        c1 = "w1 w2 w3 w4"
        c2 = "a b c d"
        c3 = "e f g h"
        docs = spark.createDataFrame(
            [(1, f"{c1} {c2}"), (2, f"{c1} {c3}")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in chunk_dedup(docs, chunk_words=4).collect()}
        assert got[1]["n_chunks"] == 2 and got[1]["n_kept"] == 2
        assert got[1]["text_dedup"] == f"{c1} {c2}"
        # doc 2 loses the repeated first chunk (doc 1 owns the first occurrence)
        assert got[2]["n_chunks"] == 2 and got[2]["n_kept"] == 1
        assert got[2]["text_dedup"] == c3

    def test_within_doc_duplicates_collapse(self, spark):
        from hgraphstorage_spark.pipeline.text import chunk_dedup

        docs = spark.createDataFrame([(7, "x y x y")], "doc_id long, text string")
        row = chunk_dedup(docs, chunk_words=2).collect()[0]
        assert row["n_chunks"] == 2 and row["n_kept"] == 1
        assert row["text_dedup"] == "x y"


class TestExactSubstring:
    """ExactSubstr dedup (Lee et al. 2021): corpus-wide duplicated token
    spans >= n removed, remainder reassembled."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (0, "a b c d e f g h"),          # shares "a b c d e" with doc 1
            (1, "z1 a b c d e z2 z3"),
            (2, "p q r s p q r s"),          # internal repeat: fully covered
            (3, "u v w"),                     # shorter than n: untouched
            (4, ""),                          # empty
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("mode", ["xxhash64", "md5"])
    def test_spans_removed(self, corpus, mode):
        from hgraphstorage_spark.pipeline.dedup import exact_substring_dedup

        got = {
            r["doc_id"]: r
            for r in exact_substring_dedup(corpus, n=4, hash_mode=mode).collect()
        }
        assert len(got) == 5
        # cross-doc: dup 4-gram starts {1,2} in doc 0 cover tokens 1..5
        assert (got[0]["dup_tokens"], got[0]["kept_text"]) == (5, "f g h")
        # doc 1: starts {2,3} cover 2..6, unique prefix/suffix survive
        assert (got[1]["dup_tokens"], got[1]["kept_text"]) == (5, "z1 z2 z3")
        # within-doc repeat: "p q r s" at 1 and 5 -> whole doc covered
        assert (got[2]["dup_tokens"], got[2]["kept_text"]) == (8, "")
        # below n tokens: no grams, nothing removed
        assert (got[3]["dup_tokens"], got[3]["kept_text"]) == (0, "u v w")
        assert (got[4]["n_tokens"], got[4]["dup_tokens"], got[4]["kept_text"]) == (0, 0, "")

    def test_modes_agree_on_real_docs(self, spark):
        from hgraphstorage_spark.pipeline.dedup import exact_substring_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        fast = exact_substring_dedup(docs, n=8).orderBy("doc_id").collect()
        port = exact_substring_dedup(docs, n=8, hash_mode="md5").orderBy("doc_id").collect()
        assert fast == port


class TestCrossSourceOverlap:
    def test_pairwise_jaccard(self, spark):
        from hgraphstorage_spark.pipeline.dedup import cross_source_overlap

        shared = "one two three four five six"
        rows = [
            (0, shared + " alpha beta gamma delta", "A"),
            (1, shared + " epsilon zeta eta theta", "B"),
            (2, "totally different words here now ok", "C"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {
            (r["source_a"], r["source_b"]): (r["shared_ngrams"], float(r["jaccard"]))
            for r in cross_source_overlap(docs, n=3).collect()
        }
        # A and B share the 3-grams inside "one two three four five six": 4
        assert got[("A", "B")][0] == 4
        # each source has 8 distinct 3-grams -> jaccard 4/12
        assert got[("A", "B")][1] == round(4 / 12, 6)
        # C shares nothing: no pair rows with C
        assert not any("C" in p for p in got)


class TestFuzzyPairs:
    def test_blocking_and_distance(self, spark):
        from hgraphstorage_spark.pipeline.dedup import fuzzy_dup_pairs

        rows = [
            (0, "customer record alpha one"),
            (1, "customer record alpha two"),    # same prefix, dist 3 ("one"->"two")
            (2, "Customer Record ALPHA one"),    # case-normalized: exact dup of 0
            (3, "customer record alpha " + "x " * 40),  # same prefix, length >> band: blocked out
            (4, "different prefix entirely yes"),        # prefix miss
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"]): r["dist"]
            for r in fuzzy_dup_pairs(docs, max_dist=5, prefix_len=12, len_band=16).collect()
        }
        assert got[(0, 2)] == 0
        assert got[(0, 1)] == 3 and got[(1, 2)] == 3
        assert not any(3 in p or 4 in p for p in got)

    def test_pairs_scored_once_across_probe_buckets(self, spark):
        from hgraphstorage_spark.pipeline.dedup import fuzzy_dup_pairs

        # identical rows meet in BOTH probe buckets; distinct keeps one pair
        docs = spark.createDataFrame(
            [(0, "same text here"), (1, "same text here")], "doc_id long, text string"
        )
        got = fuzzy_dup_pairs(docs, max_dist=1).collect()
        assert [(r["doc_a"], r["doc_b"], r["dist"]) for r in got] == [(0, 1, 0)]

    def test_max_pairs_per_doc_bounds_copy_dense_output(self, spark):
        """README's copy-dense protocol in miniature: 16 near-identical
        copies of each of 8 families -> uncapped output is quadratic
        (C(16,2)=120 pairs/family); the cap bounds it to k per doc_a and
        keeps exactly the k length-nearest candidates."""
        from hgraphstorage_spark.pipeline.dedup import fuzzy_dup_pairs

        rows = []
        for fam in range(8):
            for c in range(16):
                # same 12-char prefix per family, tiny tail perturbation
                rows.append((fam * 100 + c, f"{fam:012d} common body text" + " x" * c))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = fuzzy_dup_pairs(docs, max_dist=40, len_band=64).collect()
        assert len(uncapped) == 8 * 120
        capped = fuzzy_dup_pairs(docs, max_dist=40, len_band=64, max_pairs_per_doc=3).collect()
        per_a = {}
        for r in capped:
            per_a[r["doc_a"]] = per_a.get(r["doc_a"], 0) + 1
        assert max(per_a.values()) <= 3
        assert len(capped) < len(uncapped)
        # capped pairs are a subset of uncapped, with identical distances
        unc = {(r["doc_a"], r["doc_b"]): r["dist"] for r in uncapped}
        assert all(unc[(r["doc_a"], r["doc_b"])] == r["dist"] for r in capped)

    def test_emit_clusters_one_row_per_doc(self, spark):
        """emit='clusters' output is linear in documents: each copy family
        collapses to one cluster with one keeper, even under the cap
        (transitive chaining through dedup_clusters)."""
        from hgraphstorage_spark.pipeline.dedup import fuzzy_dup_pairs

        rows = []
        for fam in range(4):
            for c in range(16):
                rows.append((fam * 100 + c, f"{fam:012d} common body text" + " x" * c))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = fuzzy_dup_pairs(docs, max_dist=40, len_band=64, max_pairs_per_doc=3, emit="clusters")
        out = got.collect()
        assert len(out) == len(rows)  # one row per document
        clusters = {}
        for r in out:
            clusters.setdefault(r["cluster"], []).append(r)
        assert len(clusters) == 4
        for members in clusters.values():
            assert sum(1 for m in members if m["keep"]) == 1
            assert min(m["doc_id"] for m in members) == [
                m["doc_id"] for m in members if m["keep"]
            ][0]


class TestDedupClusters:
    def test_chain_forms_one_cluster(self, spark):
        from hgraphstorage_spark.pipeline.dedup import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
        )
        got = {r["doc_id"]: r for r in dedup_clusters(docs, pairs, rounds=3).collect()}
        assert {got[i]["cluster"] for i in (1, 2, 3)} == {1}
        assert {got[i]["cluster"] for i in (4, 5)} == {4}
        assert got[1]["keep"] and got[4]["keep"]
        assert not got[2]["keep"] and not got[3]["keep"] and not got[5]["keep"]
        # singleton keeps itself
        assert got[5]["cluster"] == 4  # 5 joined 4's cluster


class TestPackSequences:
    def test_packing_layout(self, spark):
        from hgraphstorage_spark.pipeline.sampling import pack_sequences

        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "d e"), (3, "f g h i")], "doc_id long, text string"
        )
        # single shard (0 hex chars = constant '') → one global stream
        rows = {
            r["doc_id"]: r
            for r in pack_sequences(docs, max_tokens=4, shard_chars=0).collect()
        }
        # layout by doc_id order: doc1 tokens [0,3), doc2 [3,5), doc3 [5,9)
        assert (rows[1]["seq_id"], rows[1]["tok_offset"]) == (0, 0)
        assert (rows[2]["seq_id"], rows[2]["tok_offset"]) == (0, 3)
        assert (rows[3]["seq_id"], rows[3]["tok_offset"]) == (1, 1)
        assert rows[3]["n_tokens"] == 4

    def test_sharding_is_deterministic_and_partitioned(self, spark):
        from hgraphstorage_spark.pipeline.sampling import pack_sequences

        docs = spark.createDataFrame([(i, "w " * 5) for i in range(100)], "doc_id long, text string")
        a = {(r["doc_id"], r["shard"], r["seq_id"], r["tok_offset"])
             for r in pack_sequences(docs).collect()}
        b = {(r["doc_id"], r["shard"], r["seq_id"], r["tok_offset"])
             for r in pack_sequences(docs.repartition(7)).collect()}
        assert a == b  # layout independent of input partitioning
        assert len({s for (_, s, _, _) in a}) > 1  # really sharded


class TestUnigramLogprob:
    def test_repeated_common_token_scores_higher(self, spark):
        from hgraphstorage_spark.pipeline.text import unigram_logprob

        # corpus: 'a' appears 4/6 times, 'b' and 'z' once each
        docs = spark.createDataFrame(
            [(1, "a a a"), (2, "a b"), (3, "z")], "doc_id long, text string"
        )
        got = {r["doc_id"]: float(r["mean_logprob"]) for r in unigram_logprob(docs).collect()}
        import math

        assert abs(got[1] - round(math.log(4 / 6), 6)) < 1e-6
        assert abs(got[3] - round(math.log(1 / 6), 6)) < 1e-6
        assert got[1] > got[2] > got[3]  # common-word doc scores highest


class TestNormalizeText:
    def test_canonical_form_and_md5(self, spark):
        import hashlib

        from hgraphstorage_spark.pipeline.text import normalize_text

        docs = spark.createDataFrame(
            [(1, "  Hello,   WORLD!! 42 "), (2, "a-b_c"), (3, "...")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in normalize_text(docs).collect()}
        assert rows[1]["text_norm"] == "hello world 42"
        assert rows[2]["text_norm"] == "a b c"
        assert rows[3]["text_norm"] == ""
        for r in rows.values():
            assert r["n_chars_norm"] == len(r["text_norm"])
            assert r["norm_md5"] == hashlib.md5(r["text_norm"].encode()).hexdigest()


class TestNegativeEdgeSampling:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        edges = spark.createDataFrame(
            [(10, 11), (10, 12), (11, 12)], "src long, dst long"
        )
        cands = spark.createDataFrame(
            [(i, 10 + i) for i in range(8)], "cand_idx long, cand_id long"
        )
        return edges, cands

    def test_no_positives_no_self_k_ranked(self, spark, frames):
        from hgraphstorage_spark.pipeline.sampling import negative_edge_sampling

        edges, cands = frames
        out = negative_edge_sampling(edges, cands, k=2, oversample=4).collect()
        pos = {(10, 11), (10, 12), (11, 12)}
        by_src = {}
        for r in out:
            assert (r["src"], r["neg_dst"]) not in pos
            assert r["neg_dst"] != r["src"]
            by_src.setdefault(r["src"], []).append(r["rank"])
        for ranks in by_src.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 2

    def test_deterministic_and_salt_sensitive(self, spark, frames):
        from hgraphstorage_spark.pipeline.sampling import negative_edge_sampling

        edges, cands = frames
        a = sorted(map(tuple, negative_edge_sampling(edges, cands, k=2).collect()))
        b = sorted(map(tuple, negative_edge_sampling(edges, cands, k=2).collect()))
        assert a == b
        c = sorted(map(tuple, negative_edge_sampling(edges, cands, k=2, salt=5).collect()))
        assert a != c
        # pin the draw itself (hand-computed from the hash definition)
        assert a == [(10, 16, 2), (10, 17, 1), (11, 10, 1), (11, 17, 2)]


class TestPsiReport:
    def test_identical_slices_near_zero_planted_drift_flags(self, spark):
        """A/A: PSI over two identical distributions ~ 0; a shifted
        current slice crosses the 0.25 'drifted' rule of thumb."""
        from hgraphstorage_spark.functions.stats import psi_report

        ref = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
        same = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
        psi_aa = sum(
            float(r["contrib"]) for r in psi_report(ref, same, "v").collect()
        )
        assert abs(psi_aa) < 0.01, psi_aa
        # current slice shifted up by 80: most mass lands in the top bins
        drifted = spark.range(1000).select(
            ((F.col("id") % 100) + 80).cast("double").alias("v")
        )
        rows = psi_report(ref, drifted, "v").collect()
        assert len(rows) == 10
        assert sum(r["n_ref"] for r in rows) == 1000
        assert sum(r["n_cur"] for r in rows) == 1000
        psi = sum(float(r["contrib"]) for r in rows)
        assert psi > 0.25, psi

    def test_null_values_excluded_both_sides(self, spark):
        from hgraphstorage_spark.functions.stats import psi_report

        ref = spark.createDataFrame([(1.0,), (2.0,), (None,)], "v double")
        cur = spark.createDataFrame([(None,), (1.5,)], "v double")
        rows = psi_report(ref, cur, "v", n_bins=2).collect()
        assert sum(r["n_ref"] for r in rows) == 2
        assert sum(r["n_cur"] for r in rows) == 1


class TestCalibrationReport:
    def test_monotone_for_real_signal_flat_for_noise(self, spark):
        from hgraphstorage_spark.functions.stats import calibration_report

        # score == probability the label was drawn from: perfectly ranked
        rows = [(float(i), int(i % 100 < (i // 10))) for i in range(1000)]
        df = spark.createDataFrame(rows, "s double, y int")
        rep = sorted(
            calibration_report(df, "s", "y", n_bins=5).collect(),
            key=lambda r: r["bin"],
        )
        rates = [float(r["pos_rate"]) for r in rep]
        assert rates == sorted(rates) and rates[-1] > rates[0]
        assert sum(r["n"] for r in rep) == 1000
        # constant score: everything collapses into one bin (honest about
        # ties), rate == base rate
        flat = spark.createDataFrame(
            [(1.0, i % 4 == 0) for i in range(100)], "s double, y boolean"
        )
        frep = calibration_report(flat, "s", "y", n_bins=5).collect()
        assert len(frep) == 1 and float(frep[0]["pos_rate"]) == 0.25


class TestHLL:
    def test_accuracy_within_standard_error(self, spark):
        """p=8 gives ~6.5% standard error; demand < 3 sigma on 5000
        distinct values, and exactness of the register construction via
        the small-range linear-counting branch on tiny cardinality."""
        from hgraphstorage_spark.functions.stats import hll_estimate, hll_sketch

        df = spark.range(5000).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
        est = float(
            hll_estimate(hll_sketch(df, "v", p=8), p=8).collect()[0]["n_distinct_est"]
        )
        assert abs(est - 5000) / 5000 < 0.20
        import math

        tiny = spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], "v string")
        row = hll_estimate(hll_sketch(tiny, "v", p=8), p=8).collect()[0]
        # 3 distinct values -> 3 non-zero buckets (no collision at m=256
        # for this fixture), linear counting m*ln(m/V) exactly
        v = row["n_zero_registers"]
        assert v == 253
        assert float(row["n_distinct_est"]) == round(256.0 * math.log(256.0 / v), 4)

    def test_estimate_rejects_larger_build_p(self, spark):
        """ADVICE r6: a sketch built with p=12 estimated with p=8 must
        fail loudly (bucket range proves the mismatch), not silently
        return a wildly wrong count."""
        import pytest

        from hgraphstorage_spark.functions.stats import hll_estimate, hll_sketch

        df = spark.range(2000).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
        sk = hll_sketch(df, "v", p=12)  # buckets up to 4095
        with pytest.raises(Exception, match="larger p"):
            hll_estimate(sk, p=8).collect()
        # the guard must survive column pruning (r7 review catch: gated
        # only on n_zero_registers, select('n_distinct_est') silently
        # returned a negative count)
        with pytest.raises(Exception, match="larger p"):
            hll_estimate(sk, p=8).select("n_distinct_est").collect()
        with pytest.raises(Exception, match="larger p"):
            hll_estimate(sk, p=8).select("n_zero_registers").collect()

    def test_merge_law(self, spark):
        """sketch(A ++ B) == hll_merge(sketch(A), sketch(B)) exactly."""
        from hgraphstorage_spark.functions.stats import hll_merge, hll_sketch

        a = spark.range(0, 300).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
        b = spark.range(150, 500).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
        merged = bag(hll_merge(hll_sketch(a, "v"), hll_sketch(b, "v")))
        union = bag(hll_sketch(a.unionByName(b), "v"))
        assert merged == union

    def test_grouped(self, spark):
        from hgraphstorage_spark.functions.stats import hll_estimate, hll_sketch

        rows = [("en", f"w{i}") for i in range(200)] + [("de", f"w{i}") for i in range(40)]
        df = spark.createDataFrame(rows, "lang string, v string")
        sk = hll_sketch(df, "v", group_cols=["lang"], p=8)
        got = {
            r["lang"]: float(r["n_distinct_est"])
            for r in hll_estimate(sk, group_cols=["lang"], p=8).collect()
        }
        assert abs(got["en"] - 200) / 200 < 0.25 and abs(got["de"] - 40) / 40 < 0.25


class TestLateR6Laws:
    def test_mmr_with_k_equal_pool_is_a_permutation(self, spark):
        """MMR reorders, never drops: k == pool returns exactly the pool's
        vec_ids (diversity changes ranks, not membership)."""
        from hgraphstorage_spark.pipeline.similarity import cosine_topk, mmr_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        pool_ids = {r["vec_id"] for r in cosine_topk(emb, 0, k=8).collect()}
        mmr_ids = {
            r["vec_id"] for r in mmr_topk(emb, 0, k=8, pool=8, lam=0.4).collect()
        }
        assert mmr_ids == pool_ids

    def test_phrase_scores_decrease_with_delta(self, spark):
        """Raising delta lowers every pair's score by exactly
        (d2-d1)*N/(n_a*n_b) — monotone discounting, same pair set."""
        from hgraphstorage_spark.pipeline.text import phrase_detect

        docs = spark.createDataFrame(
            [(i, "new york and old york") for i in range(6)],
            "doc_id long, text string",
        )
        lo = {(r["word_a"], r["word_b"]): float(r["score"])
              for r in phrase_detect(docs, min_count=2, delta=0.0, top_k=20).collect()}
        hi = {(r["word_a"], r["word_b"]): float(r["score"])
              for r in phrase_detect(docs, min_count=2, delta=2.0, top_k=20).collect()}
        assert set(lo) == set(hi) and lo
        assert all(hi[p] < lo[p] for p in lo)

    def test_hll_registers_invariant_under_duplication(self, spark):
        """sketch(multiset) == sketch(set): duplicates can never move a
        register (max over equal hashes) — the property that makes
        distinct-first and raw-stream pipelines interchangeable."""
        from hgraphstorage_spark.functions.stats import hll_sketch

        base = spark.range(500).select(F.concat(F.lit("t"), F.col("id")).alias("v"))
        dup = base.unionByName(base).unionByName(base)
        assert bag(hll_sketch(dup, "v")) == bag(hll_sketch(base, "v"))


class TestQuantileSketch:
    def test_merge_law_exact(self, spark):
        """merge(sketch(A), sketch(B)) == sketch(A ++ B) EXACTLY when ids
        are globally distinct — the property KLL can't give (its random
        compaction depends on arrival grouping) and the reason the
        family uses deterministic bottom-k registers."""
        from hgraphstorage_spark.functions.stats import (
            quantile_sketch,
            quantile_sketch_merge,
        )

        a = spark.range(0, 700).select(
            F.col("id"), (F.col("id") % 97).cast("double").alias("v")
        )
        b = spark.range(700, 1500).select(
            F.col("id"), (F.col("id") % 41).cast("double").alias("v")
        )
        sk = lambda df: quantile_sketch(df, "v", "id", k=64)  # noqa: E731
        merged = bag(quantile_sketch_merge(sk(a), sk(b), k=64))
        union = bag(sk(a.unionByName(b)))
        assert merged == union and len(union) == 64

    def test_small_group_is_exact_and_bound_holds(self, spark):
        """A group smaller than k keeps EVERY row (estimates exact);
        a large group's p50 lands within the O(1/sqrt(k)) rank band."""
        from hgraphstorage_spark.functions.stats import (
            quantile_sketch,
            quantile_sketch_estimate,
        )

        df = spark.range(20000).select(
            F.col("id"),
            F.when(F.col("id") < 30, F.lit("small")).otherwise(F.lit("big")).alias("g"),
            F.col("id").cast("double").alias("v"),
        )
        sk = quantile_sketch(df, "v", "id", group_cols=["g"], k=1024)
        est = {
            r["g"]: r
            for r in quantile_sketch_estimate(sk, (0.5,), group_cols=["g"]).collect()
        }
        assert est["small"]["n_register"] == 30  # < k: the whole group
        assert float(est["small"]["p50"]) == 14.5  # exact interpolation
        # big group: uniform ids 30..19999, true p50 ~ 10014.5; 3-sigma
        # rank band at k=1024 is ~4.7% of the range
        assert abs(float(est["big"]["p50"]) - 10014.5) < 0.05 * 19970

    def test_windowgrouplimit_plan(self, spark):
        """The rank filter must plan as WindowGroupLimit (per-task
        bottom-k prune BEFORE the group shuffle) — the property that
        bounds the exchange at k rows per task per group at 100 TB."""
        from hgraphstorage_spark.functions.stats import quantile_sketch

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = (
            quantile_sketch(ev, "value", "event_id", group_cols=["event_type"], k=64)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "WindowGroupLimit" in plan

    def test_duplicate_values_keep_multiplicity(self, spark):
        """Sampling is by ROW identity, not value: a constant column
        estimates that constant at every percentile."""
        from hgraphstorage_spark.functions.stats import (
            quantile_sketch,
            quantile_sketch_estimate,
        )

        df = spark.range(500).select(F.col("id"), F.lit(7.5).alias("v"))
        est = quantile_sketch_estimate(
            quantile_sketch(df, "v", "id", k=32), (0.1, 0.9)
        ).collect()[0]
        assert float(est["p10"]) == 7.5 and float(est["p90"]) == 7.5
        assert est["n_register"] == 32


class TestCountMinSketch:
    def test_one_sided_and_exact_without_collisions(self, spark):
        """est >= exact for EVERY item (CMS never undercounts), and with a
        width far above the distinct-item count the estimates are exact."""
        from hgraphstorage_spark.functions.stats import cms_estimate, count_min_sketch

        rows = [(w,) for w, k in [("a", 5), ("b", 3), ("c", 1)] for _ in range(k)]
        df = spark.createDataFrame(rows, "item string")
        wide = count_min_sketch(df, "item", width=4096, depth=4)
        got = {
            r["item"]: r["est"]
            for r in cms_estimate(wide, df, "item", 4096, 4).collect()
        }
        assert got == {"a": 5, "b": 3, "c": 1}
        # width=2 forces collisions: still never undercounts
        tight = count_min_sketch(df, "item", width=2, depth=2)
        est = {
            r["item"]: r["est"]
            for r in cms_estimate(tight, df, "item", 2, 2).collect()
        }
        assert est["a"] >= 5 and est["b"] >= 3 and est["c"] >= 1

    def test_merge_equals_sketch_of_union(self, spark):
        """Mergeability: cms_merge(sketch(A), sketch(B)) has exactly the
        cells of sketch(A ++ B) — per-shard sketches combine losslessly."""
        from hgraphstorage_spark.functions.stats import cms_merge, count_min_sketch

        a = spark.createDataFrame([("x",), ("y",), ("x",)], "item string")
        b = spark.createDataFrame([("y",), ("z",)], "item string")
        merged = bag(cms_merge(
            count_min_sketch(a, "item", width=8, depth=3),
            count_min_sketch(b, "item", width=8, depth=3),
        ))
        union = bag(count_min_sketch(a.unionByName(b), "item", width=8, depth=3))
        assert merged == union

    def test_rejects_non_power_of_two_width(self, spark):
        """ADVICE r6: the odd-stride coprimality proof only holds for
        power-of-two widths — build and estimate both reject others."""
        import pytest

        from hgraphstorage_spark.functions.stats import cms_estimate, count_min_sketch

        df = spark.createDataFrame([("x",)], "item string")
        for bad in (3, 100, 8191, 0, 1):
            with pytest.raises(ValueError, match="power of two"):
                count_min_sketch(df, "item", width=bad, depth=2)
        sk = count_min_sketch(df, "item", width=8, depth=2)
        with pytest.raises(ValueError, match="power of two"):
            cms_estimate(sk, df, "item", width=100, depth=2)

    def test_cell_count_bounded(self, spark):
        """The sketch's reason to exist: cells <= depth*width no matter how
        many distinct items stream through."""
        from hgraphstorage_spark.functions.stats import count_min_sketch

        df = spark.range(5000).select(F.col("id").cast("string").alias("item"))
        sk = count_min_sketch(df, "item", width=16, depth=4)
        assert sk.count() <= 64


class TestGroupedDistinctCounts:
    def test_exact_and_approx_agree_on_small_groups(self, spark):
        from hgraphstorage_spark.functions.stats import grouped_distinct_counts

        df = spark.createDataFrame(
            [(g, v % (10 * (g + 1))) for g in range(3) for v in range(200)],
            "g int, v int",
        )
        rows = {r["g"]: r for r in grouped_distinct_counts(df, "g", "v").collect()}
        assert {g: r["n_distinct"] for g, r in rows.items()} == {0: 10, 1: 20, 2: 30}
        for r in rows.values():
            # HLL++ at rsd=0.05 is exact-ish at these cardinalities and
            # deterministic, so a tight bound is stable
            assert abs(r["n_distinct_approx"] - r["n_distinct"]) <= max(1, r["n_distinct"] // 10)

    def test_approx_only_mode(self, spark):
        from hgraphstorage_spark.functions.stats import grouped_distinct_counts

        df = spark.createDataFrame([(1, 1), (1, 2)], "g int, v int")
        out = grouped_distinct_counts(df, "g", "v", exact=False)
        assert out.columns == ["g", "n_distinct_approx"]


class TestBigramLogprob:
    def test_repetition_scores_high_shuffle_scores_low(self, spark):
        from hgraphstorage_spark.pipeline.text import bigram_logprob

        df = spark.createDataFrame(
            [
                (0, "a b a b a b a b"),     # perfectly predictable bigrams
                (1, "a a b b b a a b"),     # same unigrams, mixed order
                (2, "one"),                 # < 2 tokens: no row
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
        assert set(rows) == {0, 1}
        assert rows[0]["n_bigrams"] == 7 and rows[1]["n_bigrams"] == 7
        assert rows[0]["mean_logprob"] > rows[1]["mean_logprob"]

    def test_single_doc_chain_probability(self, spark):
        import math
        from decimal import Decimal

        from hgraphstorage_spark.pipeline.text import bigram_logprob

        df = spark.createDataFrame([(0, "x y x z")], "doc_id long, text string")
        r = bigram_logprob(df).collect()[0]
        # bigrams: (x,y) 1, (y,x) 1, (x,z) 1; contexts: x->2, y->1
        expect = (math.log(1 / 2) + math.log(1 / 1) + math.log(1 / 2)) / 3
        assert r["mean_logprob"] == Decimal(str(round(expect, 6)))


class TestRepetitionStats:
    def test_known_fractions(self, spark):
        from hgraphstorage_spark.pipeline.text import repetition_stats

        df = spark.createDataFrame(
            [
                # "a b" bigram appears 3x out of 5 bigrams -> top2 = 2*3/6
                (0, "a b a b a b"),
                # all tokens distinct -> every n-gram unique
                (1, "a b c d e f g h"),
                (2, "one"),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert rows[0]["n_tokens"] == 6
        assert rows[0]["top2_frac"] == pytest.approx(2 * 3 / 6)
        # doc 0 trigrams: "a b a","b a b","a b a","b a b" -> all 4 duplicated
        assert rows[0]["dup3_frac"] == pytest.approx(3 * 4 / 6)
        assert rows[1]["top2_frac"] == pytest.approx(2 * 1 / 8)
        assert rows[1]["dup3_frac"] == 0.0
        # short/empty docs produce zero signals, not nulls or errors
        assert rows[2]["top2_frac"] == 0.0 and rows[2]["dup3_frac"] == 0.0
        assert rows[3]["n_tokens"] == 0 and rows[3]["top2_frac"] == 0.0

    def test_duplicated_grams_count_all_occurrences(self, spark):
        from hgraphstorage_spark.pipeline.text import repetition_stats

        # Gopher counts tokens in ALL occurrences of duplicated n-grams,
        # not just the extra copies
        df = spark.createDataFrame([(0, "x y z x y z x y w")], "doc_id long, text string")
        r = repetition_stats(df).collect()[0]
        # trigrams: xyz,yzx,zxy,xyz,yzx,zxy,xyw -> 6 occurrences duplicated
        assert r["dup3_frac"] == pytest.approx(3 * 6 / 9)
        # top bigram "x y" 3x of 8
        assert r["top2_frac"] == pytest.approx(2 * 3 / 9)


class TestSlidingChunks:
    def test_window_stride_coverage(self, spark):
        import hashlib

        from hgraphstorage_spark.pipeline.text import sliding_chunks

        toks = [f"t{i}" for i in range(10)]
        df = spark.createDataFrame([(0, " ".join(toks)), (1, "")], "doc_id long, text string")
        rows = sorted(
            (r["chunk_idx"], r["n_tokens"], r["chunk_md5"])
            for r in sliding_chunks(df, window=4, stride=3).collect()
        )
        # starts at 0,3,6,9 -> lengths 4,4,4,1
        assert [(i, n) for i, n, _ in rows] == [(0, 4), (1, 4), (2, 4), (3, 1)]
        expect0 = hashlib.md5(" ".join(toks[0:4]).encode()).hexdigest()
        expect3 = hashlib.md5("t9".encode()).hexdigest()
        assert rows[0][2] == expect0 and rows[3][2] == expect3

    def test_overlap_means_shared_tokens(self, spark):
        from hgraphstorage_spark.pipeline.text import sliding_chunks

        df = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
        out = sliding_chunks(df, window=4, stride=2)
        # starts 0,2,4: total tokens counted with overlap > doc length
        assert out.agg(F.sum("n_tokens")).first()[0] == 4 + 4 + 2


class TestPatternScanRedact:
    @pytest.fixture(scope="class")
    def pii_df(self, spark):
        return spark.createDataFrame(
            [
                (0, "contact a.user@example.com or +1 (555) 123-4567 ok"),
                (1, "card 1234567890123456 twice 98765432"),
                (2, "clean text only"),
            ],
            "doc_id long, text string",
        )

    def test_scan_counts(self, pii_df):
        from hgraphstorage_spark.pipeline.text import pattern_scan

        rows = {r["doc_id"]: r for r in pattern_scan(pii_df, "text").collect()}
        assert rows[0]["n_email"] == 1 and rows[0]["n_phone"] == 1
        assert rows[1]["n_number_run"] == 2
        assert rows[2]["n_email"] == rows[2]["n_phone"] == rows[2]["n_number_run"] == 0

    def test_redact_removes_all_matches(self, pii_df):
        from hgraphstorage_spark.pipeline.text import pattern_scan, redact

        red = redact(pii_df, "text", out_col="clean")
        scans = pattern_scan(red, "clean")
        total = scans.agg(
            F.sum(F.col("n_email") + F.col("n_phone") + F.col("n_number_run"))
        ).first()[0]
        assert total == 0
        kept = {r["doc_id"]: r["clean"] for r in red.collect()}
        assert "a.user@example.com" not in kept[0] and "[REDACTED]" in kept[0]
        assert kept[2] == "clean text only"


class TestSemanticDedup:
    def test_identical_vectors_dedup_to_lowest_id(self, spark):
        from hgraphstorage_spark.pipeline.similarity import semantic_dedup

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 0
            (2, [0.99, 0.14, 0.0, 0.0]), # near dup of 0 (cos ~0.99)
            (3, [0.0, 1.0, 0.0, 0.0]),   # distinct direction
            (4, [0.0, 0.0, 1.0, 0.0]),   # distinct direction
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in semantic_dedup(emb, nlist=2, iterations=1, threshold=0.9).collect()}
        assert out[0]["keep"] is True          # lowest id survives
        assert out[1]["keep"] is False         # exact dup dropped
        assert out[2]["keep"] is False         # near dup dropped
        # vectors in other clusters / below threshold survive
        assert out[3]["keep"] is True and out[4]["keep"] is True

    def test_threshold_bounds_dropping(self, spark):
        from hgraphstorage_spark.pipeline.similarity import semantic_dedup

        rows = [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(emb, nlist=2, iterations=1, threshold=0.99).collect()
        assert all(r["keep"] for r in out)  # orthogonal: nothing drops


class TestTokenBudgetMix:
    def test_budget_met_never_undershot(self, spark):
        from hgraphstorage_spark.pipeline.sampling import token_budget_mix

        rows = [(i, " ".join(["w"] * 10), "a" if i < 20 else "b") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = token_budget_mix(df, {"a": 35, "b": 400}, default_budget=0).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r)
        # 'a': 10-token docs against a 35-token budget -> 4 docs (the
        # crossing doc is kept: 30 < 35 <= 40)
        assert sum(r["n_tokens"] for r in by_src["a"]) == 40
        # 'b': budget 400 >= total 200 -> everything kept
        assert len(by_src["b"]) == 20

    def test_deterministic_selection(self, spark):
        from hgraphstorage_spark.pipeline.sampling import token_budget_mix

        rows = [(i, " ".join(["w"] * (i + 1)), "s") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        a = sorted(r["doc_id"] for r in token_budget_mix(df, {"s": 100}).collect())
        b = sorted(r["doc_id"] for r in token_budget_mix(df, {"s": 100}).collect())
        assert a == b and len(a) > 0


class TestFlaggedTerms:
    def test_exact_token_edge_strip_and_gate(self, spark):
        """C4-style blocklist gate: exact-token matching only ('slower'
        never flags 'slow'; 'class' never flags 'ass'), edge
        punctuation stripped before the lookup ('Slow.' flags),
        case-insensitive; the gate passes at max_ratio and fails above;
        empty text is 0/0 and passes."""
        from hgraphstorage_spark.pipeline import flagged_terms

        rows = [
            (1, "the job is Slow. very slow indeed"),        # 2 flagged / 7
            (2, "slower and slowest are fine words here"),   # 0 flagged
            (3, "first class work in the lab"),              # 'class' safe
            (4, ""),                                         # empty
            (5, "spill"),                                    # 1/1
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in flagged_terms(df, ["slow", "spill", "ass"], max_ratio=0.2).collect()
        }
        assert (got[1]["n_flagged"], got[1]["n_tokens"]) == (2, 7)
        assert not got[1]["passes"]  # 2/7 = 0.2857 > 0.2
        assert got[2]["n_flagged"] == 0 and got[2]["passes"]
        assert got[3]["n_flagged"] == 0 and got[3]["passes"]
        assert got[4]["n_tokens"] == 0 and got[4]["passes"]
        assert got[5]["n_flagged"] == 1 and not got[5]["passes"]
        # the C4 default: ANY flagged token drops
        strict = {
            r["doc_id"]: r["passes"]
            for r in flagged_terms(df, ["slow"]).collect()
        }
        assert not strict[1] and strict[2] and strict[4]

    def test_zero_shuffle_plan(self, spark):
        from hgraphstorage_spark.pipeline import flagged_terms

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = flagged_terms(df, ["bad"])._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Generate" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_cjk_character_fallback(self, spark):
        """VERDICT r8 gap 3 pin: unsegmented CJK text tokenizes at the
        character level (each Han/kana/Hangul codepoint its own token),
        so a single-character blocklist entry gates — whitespace-only
        tokenization saw one giant token and the gate was inert on
        exactly the documents lang_id routes as zh/ja/ko. Latin text
        tokenizes identically with the fallback on; cjk_split=False
        restores the old behavior."""
        from hgraphstorage_spark.pipeline import flagged_terms

        rows = [
            (1, "这是禁止的内容"),          # unsegmented zh, contains 禁
            (2, "普通的中文文本"),          # unsegmented zh, clean
            (3, "mixed 禁 and english"),   # already-spaced CJK
            (4, "plain english only"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in flagged_terms(df, ["禁"]).collect()}
        assert got[1]["n_tokens"] == 7 and got[1]["n_flagged"] == 1
        assert not got[1]["passes"]
        assert got[2]["n_flagged"] == 0 and got[2]["passes"]
        assert got[3]["n_flagged"] == 1 and not got[3]["passes"]
        assert got[4]["n_tokens"] == 3 and got[4]["passes"]
        # fallback off: the unsegmented run is one token, gate inert
        legacy = {
            r["doc_id"]: r
            for r in flagged_terms(df, ["禁"], cjk_split=False).collect()
        }
        assert legacy[1]["n_tokens"] == 1 and legacy[1]["n_flagged"] == 0

    @pytest.mark.slow
    def test_gate_runs_on_unrounded_ratio(self, spark):
        """Round-8 advice pin: one flagged token among 3M has ratio
        ~3.3e-7, which ROUNDS to 0.000000 in the reported DECIMAL —
        the strict max_ratio=0.0 gate must still drop the document
        (the docstring's 'any flagged token drops' contract), so the
        gate decides on the unrounded ratio and only the report column
        is rounded."""
        from decimal import Decimal

        from hgraphstorage_spark.pipeline import flagged_terms

        df = spark.range(1).select(
            F.col("id").alias("doc_id"),
            F.concat(F.repeat(F.lit("ok "), 3_000_000), F.lit("slow")).alias("text"),
        )
        row = flagged_terms(df, ["slow"], max_ratio=0.0).collect()[0]
        assert row["n_flagged"] == 1 and row["n_tokens"] == 3_000_001
        assert row["flagged_ratio"] == Decimal("0.000000")  # report rounds away
        assert not row["passes"]  # ...but the gate must not


class TestFlaggedPhrases:
    def test_boundaries_normalization_and_gate(self, spark):
        """Phrase gate: word-boundary exact ('bad word' never fires
        inside 'badge wordy'), punctuation/case-insensitive
        ('Bad-Word!' hits), adjacent occurrences both count (the
        double-space boundary trick), unlisted text passes, and
        max_hits loosens the gate."""
        from hgraphstorage_spark.pipeline import flagged_phrases

        rows = [
            (1, "this has a bad word in it"),
            (2, "a Bad-Word! with punctuation"),
            (3, "badge wordy is fine"),
            (4, "bad word bad word twice"),
            (5, "totally clean text"),
            (6, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_phrase_hits"], r["passes"])
            for r in flagged_phrases(df, ["bad word"]).collect()
        }
        assert got[1] == (1, False)
        assert got[2] == (1, False)
        assert got[3] == (0, True)
        assert got[4] == (2, False)
        assert got[5] == (0, True)
        assert got[6] == (0, True)
        loose = {
            r["doc_id"]: r["passes"]
            for r in flagged_phrases(df, ["bad word"], max_hits=1).collect()
        }
        assert loose[1] and not loose[4]

    def test_multi_phrase_and_cjk(self, spark):
        """Several phrases compile to one alternation pass; an
        unsegmented CJK phrase matches via the shared character
        isolation on both sides."""
        from hgraphstorage_spark.pipeline import flagged_phrases

        rows = [
            (1, "free money now they said"),
            (2, "这里有禁止词汇的内容"),       # unsegmented zh phrase
            (3, "money free (wrong order)"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["n_phrase_hits"]
            for r in flagged_phrases(df, ["free money", "禁止词汇"]).collect()
        }
        assert got == {1: 1, 2: 1, 3: 0}

    def test_zero_shuffle_plan(self, spark):
        from hgraphstorage_spark.pipeline import flagged_phrases

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = (
            flagged_phrases(df, ["bad word"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Generate" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestQualityFilterNarrow:
    def test_identical_to_histogram_variant(self, spark):
        from hgraphstorage_spark.pipeline import quality_filter
        from hgraphstorage_spark.pipeline.text import quality_filter_narrow

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, quality_filter(docs).collect()))
        b = sorted(map(tuple, quality_filter_narrow(docs).collect()))
        assert a == b  # same metrics, same rounding, same flags

    def test_zero_shuffle_plan(self, spark):
        from hgraphstorage_spark.pipeline.text import quality_filter_narrow
        from hgraphstorage_spark.plans import executed_plan

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = executed_plan(quality_filter_narrow(docs))
        assert "Exchange" not in plan  # scan-speed: one narrow projection

    def test_streaming_safe(self, spark, tmpdir):
        from hgraphstorage_spark.pipeline.text import quality_filter_narrow

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
        src = str(tmpdir.join("docs_src"))
        docs.write.parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        out = quality_filter_narrow(stream)
        assert out.isStreaming  # the projection composes with readStream
        q = (
            out.writeStream.format("memory")
            .queryName("qfn_stream")
            .option("checkpointLocation", str(tmpdir.join("ckpt")))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql("SELECT * FROM qfn_stream").collect()))
        want = sorted(map(tuple, quality_filter_narrow(docs).collect()))
        assert got == want  # stream == batch on complete data


class TestHybridSearch:
    def test_rrf_fuses_both_lists(self, spark):
        from hgraphstorage_spark.pipeline.search import hybrid_search

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        got = hybrid_search(docs, emb, "spark join window", query_vec_id=0, k=10).collect()
        assert len(got) == 10
        # ranks are 1..10 in rrf order
        assert [r["rank"] for r in got] == list(range(1, 11))
        rrfs = [float(r["rrf"]) for r in got]
        assert rrfs == sorted(rrfs, reverse=True)
        # RRF math: a doc in both lists carries both terms
        for r in got:
            want = sum(1.0 / (60 + x) for x in (r["lex_rank"], r["sem_rank"]) if x is not None)
            assert abs(float(r["rrf"]) - want) < 1e-6

    def test_single_list_docs_still_rank(self, spark):
        from hgraphstorage_spark.pipeline.search import hybrid_search

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        got = hybrid_search(docs, emb, "spark join window", query_vec_id=0, k=50, pool=5).collect()
        assert any(r["lex_rank"] is None for r in got)
        assert any(r["sem_rank"] is None for r in got)


class TestClusterSafeSplit:
    def test_near_dups_share_split(self, spark):
        from hgraphstorage_spark.pipeline.sampling import cluster_safe_split

        docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long"
        )
        got = {r["doc_id"]: r for r in cluster_safe_split(docs, pairs).collect()}
        assert len(got) == 20
        # chained near-dups move as one unit
        assert got[0]["split"] == got[1]["split"] == got[2]["split"]
        assert got[0]["cluster"] == got[1]["cluster"] == got[2]["cluster"] == 0
        assert got[5]["split"] == got[6]["split"] and got[5]["cluster"] == 5
        # split keyed on cluster id: singleton docs match hash_split of
        # their own id (cluster == doc_id)
        from hgraphstorage_spark.pipeline.sampling import hash_split

        singles = hash_split(docs).collect()
        want = {r["doc_id"]: r["split"] for r in singles}
        for d in (3, 4, 7, 19):
            assert got[d]["split"] == want[d]


class TestIncrementalNearDup:
    def test_new_probes_seen_only(self, spark, docs):
        from hgraphstorage_spark.pipeline.dedup import incremental_near_dup

        # seen corpus: docs 0 and 4; new batch: near-dup of 0 (doc 2),
        # exact dup of 0 (doc 1), unrelated (doc 3)
        seen = docs.filter(F.col("doc_id").isin(0, 4))
        new = docs.filter(F.col("doc_id").isin(1, 2, 3))
        got = {
            (r["doc_id"], r["seen_id"]): float(r["jaccard"])
            for r in incremental_near_dup(new, seen, threshold=0.35, k=32, bands=16).collect()
        }
        assert got[(1, 0)] == 1.0           # exact dup flagged against seen
        assert 0.35 <= got[(2, 0)] < 1.0    # near dup flagged
        assert not any(d == 3 for d, _ in got)      # unrelated new doc clean
        # seen docs never pair with each other (asymmetric join)
        assert all(s in (0, 4) and d in (1, 2, 3) for d, s in got)

    def test_matches_symmetric_pairs_across_split(self, spark):
        """Against a real corpus split, the asymmetric op finds exactly the
        symmetric op's (odd, even) pairs."""
        from hgraphstorage_spark.pipeline.dedup import (
            incremental_near_dup,
            minhash_lsh_pairs,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sym = minhash_lsh_pairs(docs, threshold=0.5).collect()
        want = {
            tuple(sorted((r["doc_a"], r["doc_b"])))
            for r in sym
            if (r["doc_a"] % 2) != (r["doc_b"] % 2)
        }
        inc = incremental_near_dup(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
            threshold=0.5,
        ).collect()
        got = {tuple(sorted((r["doc_id"], r["seen_id"]))) for r in inc}
        assert got == want


class TestStopwordStats:
    def test_hand_computed(self, spark):
        from hgraphstorage_spark.pipeline.text import stopword_stats

        docs = spark.createDataFrame(
            [
                (0, "the cat and the dog"),   # hits: the, and, the -> 2 distinct, 3/5
                (1, "x y z"),                  # none
                (2, ""),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in stopword_stats(docs).collect()}
        assert (got[0]["n_distinct_stopwords"], float(got[0]["stopword_frac"])) == (2, 0.6)
        assert (got[1]["n_distinct_stopwords"], float(got[1]["stopword_frac"])) == (0, 0.0)
        assert (got[2]["n_tokens"], float(got[2]["stopword_frac"])) == (0, 0.0)


class TestMediaFingerprints:
    def test_decodable_families_fingerprint(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import media_fingerprints, synthetic_media

        fps = {r["media_id"]: r for r in media_fingerprints(synthetic_media(spark, 64)).collect()}
        assert len(fps) == 64
        oks = [m for m, r in fps.items() if r["fp_ok"]]
        # every PCM WAV and every BMP fingerprints; compressed/corrupt don't
        assert oks and all(fps[m]["fingerprint"] is not None for m in oks)
        audio_ok = [m for m in oks if fps[m]["kind"] == "audio"]
        assert audio_ok  # PCM WAVs are always decodable
        assert all(not fps[m]["fp_ok"] for m, r in fps.items() if r["kind"] == "video")

    def test_dhash_stable_under_resize_and_sensitive_to_content(self, spark):
        import numpy as np

        from hgraphstorage_spark.pipeline.dedup import hamming64
        from hgraphstorage_spark.pipeline.multimodal import (
            bmp_array_bytes,
            decode_bmp_pixels,
            dhash_bits,
        )

        rng = np.random.RandomState(3)
        base = (np.indices((64, 96)).sum(axis=0) % 256).astype(np.uint8)
        img = np.stack([base] * 3, axis=2)
        h1 = dhash_bits(decode_bmp_pixels(bmp_array_bytes(img)))
        # 2x downsampled version of the same content: identical gradient signs
        small = img[::2, ::2]
        h2 = dhash_bits(decode_bmp_pixels(bmp_array_bytes(small)))
        d_same = bin((h1 ^ h2) & (2**64 - 1)).count("1")
        # unrelated noise image
        noise = rng.randint(0, 256, size=img.shape).astype(np.uint8)
        h3 = dhash_bits(decode_bmp_pixels(bmp_array_bytes(noise)))
        d_diff = bin((h1 ^ h3) & (2**64 - 1)).count("1")
        assert d_same <= 4 < d_diff

    def test_wav_energy_bits_gain_invariant(self, spark):
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import wav_energy_bits

        rng = np.random.RandomState(5)
        x = np.sin(np.linspace(0, 60, 6500)) * np.linspace(0.2, 1.0, 6500)
        assert wav_energy_bits(x) == wav_energy_bits(x * 0.5)  # gain-invariant
        assert wav_energy_bits(x) != wav_energy_bits(rng.randn(6500))
        assert wav_energy_bits(np.array([])) == 0


class TestEventTransitions:
    def test_counts_and_row_normalization(self, spark):
        from hgraphstorage_spark.functions.timeseries import event_transitions

        rows = [
            (1, "2024-01-01 00:00:00", 1, "a"),
            (2, "2024-01-01 00:01:00", 1, "b"),
            (3, "2024-01-01 00:02:00", 1, "a"),
            (4, "2024-01-01 00:03:00", 1, "b"),
            (5, "2024-01-01 00:00:00", 2, "a"),
            (6, "2024-01-01 00:01:00", 2, "a"),
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {(r["from_type"], r["to_type"]): (r["n"], float(r["prob"]))
               for r in event_transitions(ev).collect()}
        # user1: a->b, b->a, a->b; user2: a->a. No cross-user pair.
        assert got[("a", "b")] == (2, round(2 / 3, 6))
        assert got[("a", "a")] == (1, round(1 / 3, 6))
        assert got[("b", "a")] == (1, 1.0)
        assert len(got) == 3


class TestEmbeddingOutliers:
    def test_flags_planted_outlier(self, spark):
        import numpy as np

        from hgraphstorage_spark.pipeline.similarity import embedding_outliers

        rng = np.random.RandomState(11)
        base = rng.randn(8) * 0.05 + 1.0
        rows = [(i, (base + rng.randn(8) * 0.01).tolist()) for i in range(39)]
        rows.append((99, (-base).tolist()))  # anti-aligned: clear outlier
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in embedding_outliers(emb, bottom_frac=0.05).collect()}
        assert got[99]["outlier"]
        assert sum(1 for r in got.values() if r["outlier"]) <= 2


class TestPerSourcePercentRank:
    def test_rank_within_source_only(self, spark):
        from hgraphstorage_spark.pipeline.sampling import per_source_percent_rank

        rows = [(0, "A", 10), (1, "A", 20), (2, "A", 30), (3, "B", 5)]
        df = spark.createDataFrame(rows, "doc_id long, source string, m long")
        got = {r["doc_id"]: float(r["pct_rank"]) for r in per_source_percent_rank(df, "m").collect()}
        assert got[0] == 0.0 and got[1] == 0.5 and got[2] == 1.0
        assert got[3] == 0.0  # singleton source ranks alone


class TestPngDecodeAndPilTier:
    """Round-4 media tiering (VERDICT r3 task 6): real pure-numpy PNG
    decode + optional-import Pillow tier for JPEG, pinned both ways."""

    def test_png_roundtrip_all_channel_counts(self):
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            decode_png_pixels,
            png_array_bytes,
        )

        rng = np.random.RandomState(7)
        for c in (1, 2, 3, 4):
            px = rng.randint(0, 256, size=(13, 9, c), dtype=np.uint8)
            got = decode_png_pixels(png_array_bytes(px))
            assert got is not None and np.array_equal(got, px), c

    def test_png_all_filter_types_reconstruct(self):
        """Hand-filter scanlines with every PNG filter type (Sub/Up/
        Average/Paeth) and assert the decoder reconstructs the original
        pixels — RFC 2083 §6 reference arithmetic implemented
        independently here."""
        import struct
        import zlib

        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            _png_chunk,
            decode_png_pixels,
        )

        rng = np.random.RandomState(3)
        h, w, c = 6, 5, 3
        px = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8).astype(int)
        flat = px.reshape(h, w * c)

        def paeth(a, b, cc):
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else cc)

        raw = b""
        for y in range(h):
            ft = [0, 1, 2, 3, 4, 1][y]
            prev = flat[y - 1] if y > 0 else np.zeros(w * c, dtype=int)
            line = bytearray([ft])
            for x in range(w * c):
                cur = int(flat[y][x])
                left = int(flat[y][x - c]) if x >= c else 0
                up = int(prev[x])
                ul = int(prev[x - c]) if x >= c else 0
                pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1, 4: paeth(left, up, ul)}[ft]
                line.append((cur - pred) & 0xFF)
            raw += bytes(line)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png_pixels(payload)
        assert got is not None and np.array_equal(got, px.astype(np.uint8))

    def test_png_palette_expansion(self):
        import struct
        import zlib

        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            _png_chunk,
            decode_png_pixels,
        )

        pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
        idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
        ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", pal)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        got = decode_png_pixels(payload)
        assert got.shape == (2, 3, 3)
        assert got[0, 0].tolist() == [255, 0, 0] and got[1, 0].tolist() == [0, 0, 255]

    def test_png_out_of_tier_returns_none(self):
        """16-bit depth and interlaced PNGs are OUTSIDE pure-numpy
        coverage: honest None, never silently-wrong pixels."""
        import struct
        import zlib

        from hgraphstorage_spark.pipeline.multimodal import (
            _png_chunk,
            decode_png_pixels,
        )

        for depth, interlace in ((16, 0), (8, 1)):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, interlace)
            payload = (
                b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 12))
                + _png_chunk(b"IEND", b"")
            )
            assert decode_png_pixels(payload) is None

    def test_png_features_content_derived(self, spark):
        """extract_features real mode on a pattern PNG: the stats equal
        numpy on the generator gradient — PNG is now in the fully-real
        tier alongside BMP/WAV."""
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            MEDIA_SCHEMA,
            extract_features,
            png_bytes,
        )

        w, h = 31, 17
        payload = png_bytes(w, h, pattern=True)
        media = spark.createDataFrame(
            [{"media_id": 0, "kind": "image", "payload": payload,
              "meta": {"codec": "png", "width": w, "height": h, "duration_ms": None}}],
            MEDIA_SCHEMA,
        )
        f = extract_features(media, fake_decode=False).collect()[0]
        assert f["decode_ok"]
        px = np.array(
            [[(x * 7 + y * 13) % 256 for x in range(w)] for y in range(h)], dtype=float
        ) / 255.0
        got = f["feature"]
        assert got[:2] == [float(w), float(h)]
        for g, want in zip(got[4:], [px.mean(), px.min(), px.max(), px.std()]):
            assert abs(g - want) < 1e-6

    def test_jpeg_tier_pinned_both_ways(self, monkeypatch):
        """Without Pillow a JPEG yields no pixels; with Pillow (faked here
        — the real module is absent in this container) decode_image_pixels
        returns the PIL-decoded array. Pins the optional-import contract
        in both states."""
        import numpy as np

        from hgraphstorage_spark.pipeline import multimodal as mm

        jpeg = mm.jpeg_header_bytes(8, 6)
        monkeypatch.setattr(mm, "_pil_image_module", lambda: None)
        assert mm.decode_image_pixels(jpeg) is None

        fixed = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)

        class _Im:
            def convert(self, mode):
                assert mode == "RGB"
                return fixed

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        class _FakePil:
            @staticmethod
            def open(fp):
                return _Im()

        monkeypatch.setattr(mm, "_pil_image_module", lambda: _FakePil)
        got = mm.decode_image_pixels(jpeg)
        assert got is not None and np.array_equal(got, fixed)

    def test_fingerprints_cover_png(self, spark):
        """media_fingerprints now fingerprints PNG rows (pure-numpy dHash)
        — only JPEG-family and corrupt rows remain fp_ok=false without
        Pillow."""
        from hgraphstorage_spark.pipeline.multimodal import (
            media_fingerprints,
            synthetic_media,
        )

        out = {r["media_id"]: r for r in media_fingerprints(synthetic_media(spark, 24)).collect()}
        assert out[6]["fp_ok"] and out[18]["fp_ok"]        # png rows
        assert out[9]["fp_ok"] and out[21]["fp_ok"]        # bmp rows
        assert out[3]["fp_ok"] and out[12]["fp_ok"]        # baseline jpeg rows
        assert not out[0]["fp_ok"] and not out[15]["fp_ok"]  # corrupt rows


class TestBoilerplateDedup:
    def test_line_mode_removes_all_occurrences(self, spark):
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        banner = "subscribe to our newsletter"
        rows = [
            (0, f"{banner}\nunique alpha content\n{banner}"),
            (1, f"real article body one\n{banner}"),
            (2, f"{banner}\nreal article body two"),
            (3, "no banner here at all\nsecond line"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in boilerplate_dedup(docs, min_count=3).collect()}
        # banner appears 4x corpus-wide -> vanishes from EVERY doc
        assert got[0]["text_dedup"] == "unique alpha content"
        assert got[1]["text_dedup"] == "real article body one"
        assert got[2]["text_dedup"] == "real article body two"
        assert got[3]["text_dedup"] == "no banner here at all\nsecond line"
        assert got[0]["n_units"] == 3 and got[0]["n_kept"] == 1
        # below threshold: "second line" (1x) survives
        assert got[3]["n_kept"] == 2

    def test_short_units_exempt(self, spark):
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        rows = [(i, "a\nbody text %d\na" % i) for i in range(4)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # 'a' repeats 8x but is under min_chars=3 -> exempt everywhere
        got = boilerplate_dedup(docs, min_count=3, min_chars=3).collect()
        assert all(r["n_kept"] == 3 for r in got)

    def test_chunk_mode_on_newline_free_corpus(self, spark):
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        common = "one two three four five"
        rows = [(i, f"{common} unique{i} tail{i}") for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in boilerplate_dedup(
            docs, unit="chunk", chunk_words=5, min_count=3
        ).collect()}
        # the shared 5-word chunk appears 5x -> removed from all docs
        for i in range(5):
            assert got[i]["text_dedup"] == f"unique{i} tail{i}"

    def test_differs_from_chunk_dedup_first_keeper(self, spark):
        """chunk_dedup KEEPS the first occurrence; boilerplate_dedup
        removes them all — pin the semantic difference."""
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup, chunk_dedup

        common = "one two three four five"
        rows = [(i, common) for i in range(3)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cd = {r["doc_id"]: r["n_kept"] for r in chunk_dedup(docs, chunk_words=5).collect()}
        bp = {r["doc_id"]: r["n_kept"] for r in boilerplate_dedup(
            docs, unit="chunk", chunk_words=5, min_count=3
        ).collect()}
        assert sum(cd.values()) == 1  # first doc keeps the chunk
        assert sum(bp.values()) == 0  # boilerplate removes all three


class TestContainmentPairs:
    def test_quote_inclusion_detected(self, spark):
        from hgraphstorage_spark.pipeline.dedup import containment_pairs

        short = "alpha beta gamma delta epsilon zeta"
        long_doc = short + " plus a very long unrelated tail " + " ".join(
            f"word{i}" for i in range(60)
        )
        rows = [(0, short), (1, long_doc), (2, "entirely different content here")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(
            docs, n=3, threshold=0.8
        ).collect()}
        r = got[(0, 1)]
        assert float(r["containment_a"]) == 1.0  # every shingle of 0 is in 1
        assert float(r["containment_b"]) < 0.3   # but 1 is mostly NOT in 0
        assert float(r["jaccard"]) < 0.3         # jaccard alone would miss it
        assert not any(2 in p for p in got)

    def test_symmetric_dups_score_both_high(self, spark):
        from hgraphstorage_spark.pipeline.dedup import containment_pairs

        t = "one two three four five six seven eight"
        docs = spark.createDataFrame([(0, t), (1, t)], "doc_id long, text string")
        r = containment_pairs(docs, n=3, threshold=0.8).collect()[0]
        assert float(r["containment_a"]) == float(r["containment_b"]) == 1.0
        assert float(r["jaccard"]) == 1.0


class TestWeightedSample:
    def _docs(self, spark):
        rows = [(i, "text %d" % i, float((i * 37) % 19 + 1)) for i in range(200)]
        return spark.createDataFrame(rows, "doc_id long, text string, w double")

    def test_matches_reference_implementation(self, spark):
        """The selection equals an independent Python replay of the
        Efraimidis-Spirakis keys over the same md5-uniform draws."""
        import hashlib

        from hgraphstorage_spark.pipeline.sampling import weighted_sample

        docs = self._docs(spark)
        got = sorted(r["doc_id"] for r in weighted_sample(docs, "w", 25).collect())
        keys = {}
        for i in range(200):
            h = int(hashlib.md5(f"{i}:wsample".encode()).hexdigest()[:15], 16)
            u = (h + 1) / float(1 << 60)
            keys[i] = u ** (1.0 / float((i * 37) % 19 + 1))
        want = sorted(sorted(keys, key=lambda i: (-keys[i], i))[:25])
        assert got == want

    def test_deterministic_and_k_rows(self, spark):
        from hgraphstorage_spark.pipeline.sampling import weighted_sample

        docs = self._docs(spark)
        a = sorted(r["doc_id"] for r in weighted_sample(docs, "w", 40).collect())
        b = sorted(r["doc_id"] for r in weighted_sample(docs, "w", 40).collect())
        assert a == b and len(a) == 40

    def test_zero_weight_never_sampled_and_heavy_always(self, spark):
        from hgraphstorage_spark.pipeline.sampling import weighted_sample

        rows = [(0, "heavy", 1e12)] + [(i, "z", 0.0) for i in range(1, 50)] + [
            (i, "light", 1e-12) for i in range(50, 100)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, w double")
        got = [r["doc_id"] for r in weighted_sample(docs, "w", 10).collect()]
        assert 0 in got
        assert not any(1 <= d < 50 for d in got)  # zero weight excluded

    def test_stratified_k_per_stratum(self, spark):
        from hgraphstorage_spark.pipeline.sampling import weighted_sample

        rows = [(i, "s%d" % (i % 3), float(i % 7 + 1)) for i in range(90)]
        docs = spark.createDataFrame(rows, "doc_id long, src string, w double")
        got = weighted_sample(docs, "w", 5, strata_col="src").collect()
        from collections import Counter

        counts = Counter(r["src"] for r in got)
        assert counts == {"s0": 5, "s1": 5, "s2": 5}


class TestScriptStats:
    def test_mixed_scripts_hand_computed(self, spark):
        from hgraphstorage_spark.pipeline.text import script_stats

        rows = [
            (0, "hello world 123"),
            (1, "привет мир"),  # привет мир
            (2, "你好世界 hello"),  # 你好世界 hello
            (3, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in script_stats(docs).collect()}
        assert float(got[0]["latin_frac"]) == round(10 / 15, 6)
        assert float(got[0]["digit_frac"]) == round(3 / 15, 6)
        assert float(got[1]["cyrillic_frac"]) == 0.9
        assert float(got[2]["han_frac"]) == 0.4 and float(got[2]["latin_frac"]) == 0.5
        assert got[3]["n_chars"] == 0 and float(got[3]["latin_frac"]) == 0.0

    def test_zero_shuffle(self, spark):
        from hgraphstorage_spark.pipeline.text import script_stats
        from hgraphstorage_spark.plans.audit import executed_plan

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = executed_plan(script_stats(docs))
        assert "Exchange" not in plan.replace("Exchange RoundRobinPartitioning", "")


class TestEpochShuffle:
    def test_reproducible_and_epoch_varying(self, spark):
        from hgraphstorage_spark.pipeline.sampling import epoch_shuffle

        docs = spark.createDataFrame([(i, "t%d" % i) for i in range(50)], "doc_id long, text string")
        a = {r["doc_id"]: r["shuffle_rank"] for r in epoch_shuffle(docs, 1).collect()}
        b = {r["doc_id"]: r["shuffle_rank"] for r in epoch_shuffle(docs, 1).collect()}
        c = {r["doc_id"]: r["shuffle_rank"] for r in epoch_shuffle(docs, 2).collect()}
        assert a == b                       # same epoch -> same permutation
        assert a != c                       # different epoch -> different order
        assert sorted(a.values()) == list(range(1, 51))  # a real permutation

    def test_matches_md5_order(self, spark):
        import hashlib

        from hgraphstorage_spark.pipeline.sampling import epoch_shuffle

        docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        got = {r["doc_id"]: r["shuffle_rank"] for r in epoch_shuffle(docs, 3).collect()}
        want_order = sorted(range(20), key=lambda i: (hashlib.md5(f"{i}:epoch:3".encode()).hexdigest(), i))
        assert got == {i: rank + 1 for rank, i in enumerate(want_order)}


class TestLengthBucketedBatches:
    def test_batches_cut_in_length_order(self, spark):
        from hgraphstorage_spark.pipeline.sampling import length_bucketed_batches

        rows = [(i, 100 - i) for i in range(10)]  # lengths 100..91
        docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = sorted(
            (r["doc_id"], r["batch_id"], r["batch_max"], r["padding"])
            for r in length_bucketed_batches(docs, batch_size=4).collect()
        )
        # ranks by length desc: doc 0 (100) .. doc 9 (91); batches [0-3][4-7][8-9]
        assert [g[1] for g in got] == [0, 0, 0, 0, 1, 1, 1, 1, 2, 2]
        assert got[0] == (0, 0, 100, 0)
        assert got[3] == (3, 0, 100, 3)   # length 97, batch max 100
        assert got[4] == (4, 1, 96, 0)
        assert got[9] == (9, 2, 92, 1)

    def test_padding_less_than_random_batching(self, spark):
        """The whole point: length-sorted batches waste less padding than
        id-ordered batches on a length-diverse corpus."""
        from hgraphstorage_spark.pipeline.sampling import length_bucketed_batches

        rows = [(i, (i * 97) % 1000 + 10) for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
        out = length_bucketed_batches(docs, batch_size=16).collect()
        sorted_waste = sum(r["padding"] for r in out)
        by_id = sorted(rows)
        naive_waste = 0
        for b in range(0, 200, 16):
            chunk = [l for _, l in by_id[b : b + 16]]
            naive_waste += sum(max(chunk) - l for l in chunk)
        assert sorted_waste < naive_waste / 4


class TestAdviceR4Fixes:
    def test_boilerplate_null_text_passes_through(self, spark):
        """ADVICE r4: NULL-text docs must appear in the output (as one
        empty ineligible unit), not silently vanish via posexplode."""
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        rows = [(0, "alpha\nbeta"), (1, None), (2, "")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in boilerplate_dedup(docs, min_count=3).collect()}
        assert set(got) == {0, 1, 2}
        assert got[1]["text_dedup"] == ""
        assert got[1]["n_units"] == 1 and got[1]["n_kept"] == 1
        assert got[2]["text_dedup"] == ""
        assert got[0]["text_dedup"] == "alpha\nbeta"

    def test_resize_32bit_bmp_to_png_swaps_channels(self, spark):
        """ADVICE r4: a 32-bit BMP (stored BGRA) re-encoded as PNG (RGBA)
        must swap channel order — an external PNG consumer sees true red
        where the source stored red."""
        import struct as _s

        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            MEDIA_SCHEMA,
            decode_png_pixels,
            resize_images,
        )

        w, h = 8, 6
        rowdata = b""
        for y in range(h - 1, -1, -1):  # bottom-up
            for x in range(w):
                b_, g, r, a = (x * 10) % 256, (y * 10) % 256, 200, 255
                rowdata += bytes([b_, g, r, a])
        hdr = b"BM" + _s.pack("<IHHI", 54 + len(rowdata), 0, 0, 54)
        info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, len(rowdata), 0, 0, 0, 0)
        bmp32 = hdr + info + rowdata
        media = spark.createDataFrame(
            [(0, "image", bytearray(bmp32), ("bmp", w, h, None))], MEDIA_SCHEMA
        )
        out = resize_images(media, 64, 64, fake_decode=False).collect()[0]
        assert out["resize_ok"] and (out["width"], out["height"]) == (w, h)
        png = decode_png_pixels(out["payload"])
        assert png.shape == (h, w, 4)
        assert np.all(png[..., 0] == 200)                       # R plane
        assert np.all(png[0, :, 2] == (np.arange(w) * 10) % 256)  # B plane
        assert np.all(png[..., 3] == 255)


class TestHotShingleCap:
    def test_copy_dense_corpus_bounded_candidates(self, spark):
        """VERDICT r4 task 4: on a corpus where one boilerplate sentence
        spans every document, the uncapped inverted index pairs all
        C(n,2) docs; max_doc_freq drops the boilerplate shingles before
        the self-join, so the candidate fan-out collapses."""
        from hgraphstorage_spark.pipeline.dedup import containment_pairs, ngram_jaccard_pairs

        n_docs = 40
        common = "the quick brown fox jumps over the lazy dog"
        rows = [(i, f"{common} unique{i} alpha{i} beta{i} gamma{i}") for i in range(n_docs)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.01).count()
        assert uncapped == n_docs * (n_docs - 1) // 2  # all-pairs blowup
        capped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_doc_freq=5).count()
        assert capped == 0  # boilerplate shingles carry no signal
        assert containment_pairs(docs, n=3, threshold=0.01, max_doc_freq=5).count() == 0

    def test_cap_keeps_true_near_dups(self, spark):
        """Genuine near-duplicate pairs (shared content in FEW docs)
        survive the cap untouched."""
        from hgraphstorage_spark.pipeline.dedup import ngram_jaccard_pairs

        rows = [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon eta"),
            (2, "totally different words here now then"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, max_doc_freq=10).collect()
        }
        assert got == {(0, 1)}


class TestPrefixFiltering:
    def test_output_equals_full_exact_join(self, spark):
        """Prefix-filter lemma end-to-end: jaccard_prefix_pairs returns
        EXACTLY the pairs+scores of the full naive join (the test-only
        oracle shape — the PUBLIC uncapped entry point now delegates to
        the prefix plan, so the equivalence must be checked against the
        private naive form) on real data — pruning only, nothing lost."""
        from hgraphstorage_spark.pipeline.dedup import (
            _ngram_jaccard_pairs_naive,
            jaccard_prefix_pairs,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        full = {
            (r["doc_a"], r["doc_b"]): str(r["jaccard"])
            for r in _ngram_jaccard_pairs_naive(
                docs, n=3, threshold=0.5, block_col="lang"
            ).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): str(r["jaccard"])
            for r in jaccard_prefix_pairs(
                docs, n=3, threshold=0.5, block_col="lang"
            ).collect()
        }
        assert pref == full and len(full) > 0

    def test_public_uncapped_entry_takes_prefix_plan(self, spark):
        """VERDICT r6 task 6: no public API can emit the unbounded
        quadratic candidate join — the uncapped public entry point must
        plan the prefix-filter shape (its per-doc rank Window is the
        marker; the naive inverted-index join has no Window at all),
        while the capped entry keeps the bounded naive shape."""
        from hgraphstorage_spark.pipeline.dedup import ngram_jaccard_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        uncapped = (
            ngram_jaccard_pairs(docs, n=3, threshold=0.5)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "Window" in uncapped
        capped = (
            ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=100)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "Window" not in capped

    def test_boilerplate_prunes_candidates_keeps_true_pairs(self, spark):
        """The point of the op: on a corpus where one boilerplate sentence
        spans every document but unique tails dominate, the rarest-first
        prefixes contain only df-1 tokens, so the candidate stage fires on
        ZERO boilerplate pairs (vs C(n,2) for the full inverted index) —
        while a planted genuine near-dup pair is still found exactly."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hgraphstorage_spark.pipeline.dedup import (
            jaccard_prefix_pairs,
            shingle_hashes,
        )

        n_docs = 40
        common = "the quick brown fox jumps over the lazy dog"
        uniq = lambda i: " ".join(f"u{i}w{j}" for j in range(8))  # noqa: E731
        rows = [(i, f"{common} {uniq(i)}") for i in range(n_docs)]
        # planted near-dup of doc 0: one tail word changed
        rows.append((n_docs, f"{common} {uniq(0)[:-1]}9"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        t = 0.5
        got = {
            (r["doc_a"], r["doc_b"])
            for r in jaccard_prefix_pairs(docs, n=3, threshold=t).collect()
        }
        assert got == {(0, n_docs)}
        # replicate the candidate stage: prefix tokens are the rarest
        # sz - ceil(t*sz) + 1 shingles per doc; boilerplate (df=41) never
        # reaches a prefix, so only the planted pair shares a prefix token
        sh = shingle_hashes(docs, n=3).select(
            "doc_id", F.explode_outer("sh").alias("shingle")
        )
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
        ranked = (
            sh.join(dfreq, "shingle")
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        )
        prefix = ranked.filter(
            F.col("_rk") <= F.col("_sz") - F.ceil(F.round(F.lit(t) * F.col("_sz"), 9)) + 1
        )
        cands = (
            prefix.alias("a")
            .join(prefix.alias("b"), "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        assert cands < 5, cands  # vs C(41,2) == 820 for the full index


def test_lsh_recall_report_zero_true_pairs_honest(spark):
    """VERDICT r4 task 9: a sample with no true pairs yields recall NULL
    and sample_ok=false — never a fake 'perfect recall' 1.0."""
    from hgraphstorage_spark.pipeline.dedup import lsh_recall_report

    rows = [(i, f"completely distinct document number {i} about topic{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall_report(docs, threshold=0.9, sample_fraction=1.0).collect()[0]
    assert r["true_pairs"] == 0
    assert r["recall"] is None
    assert r["sample_ok"] is False


class TestVideoSampleTable:
    def test_table_matches_pure_python_and_corrupt_tiers_out(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import (
            _parse_mp4_sample_table,
            mp4_sampled_bytes,
            video_sample_table,
        )

        good = mp4_sampled_bytes(320, 240, n_samples=23, fps=10, sync_every=5)
        media = spark.createDataFrame(
            [
                (1, "video", bytearray(good)),
                (2, "video", bytearray(b"\x00\x01nota realbox")),
                (3, "image", bytearray(b"xx")),
            ],
            "media_id long, kind string, payload binary",
        )
        rows = video_sample_table(media).collect()
        assert {r["media_id"] for r in rows} == {1}
        got = sorted(
            (r["sample_idx"], r["ts_ms"], r["byte_offset"], r["size"], r["is_sync"])
            for r in rows
        )
        assert got == _parse_mp4_sample_table(good)

    @staticmethod
    def _trak(handler: bytes, timescale: int, n: int, delta: int, sizes, off: int):
        import struct as _s

        from hgraphstorage_spark.pipeline.multimodal import _box

        mdhd = _box(
            b"mdhd",
            b"\x00" * 4
            + _s.pack(">IIII", 0, 0, timescale, n * delta)
            + _s.pack(">HH", 0x55C4, 0),
        )
        hdlr = _box(b"hdlr", b"\x00" * 4 + b"\x00" * 4 + handler + b"\x00" * 12 + b"h\x00")
        stts = _box(b"stts", b"\x00" * 4 + _s.pack(">III", 1, n, delta))
        stsc = _box(b"stsc", b"\x00" * 4 + _s.pack(">IIII", 1, 1, n, 1))
        stsz = _box(
            b"stsz",
            b"\x00" * 4
            + _s.pack(">II", 0, n)
            + b"".join(_s.pack(">I", s) for s in sizes),
        )
        stco = _box(b"stco", b"\x00" * 4 + _s.pack(">II", 1, off))
        stbl = _box(b"stbl", stts + stsc + stsz + stco)
        return _box(b"trak", _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)))

    def test_two_trak_file_selects_the_video_track(self, spark):
        """Audio trak FIRST (the common layout): the parser must return
        the VIDEO track's samples on the video timescale, never a mix;
        a file whose hdlr boxes exist but name no video track parses to
        None instead of a wrong-but-plausible table."""
        from hgraphstorage_spark.pipeline.multimodal import (
            _box,
            _parse_mp4_sample_table,
        )

        audio = self._trak(b"soun", 48000, 4, 1024, [100, 100, 100, 100], 5000)
        video = self._trak(b"vide", 1000, 3, 100, [10, 11, 12], 9000)
        b = _box(b"moov", audio + video)
        got = _parse_mp4_sample_table(b)
        assert got == [
            (0, 0, 9000, 10, True),
            (1, 100, 9010, 11, True),
            (2, 200, 9021, 12, True),
        ]
        assert _parse_mp4_sample_table(_box(b"moov", audio)) is None

    def test_frame_plan_picks_latest_sync_at_or_before_target(self, spark):
        """fps=10, sync every 5 samples -> keyframes at 0/500/1000/...;
        a 700 ms cadence must seek to the latest keyframe <= target."""
        from hgraphstorage_spark.pipeline.multimodal import (
            mp4_sampled_bytes,
            video_frame_plan,
            video_sample_table,
        )

        media = spark.createDataFrame(
            [(7, "video", bytearray(mp4_sampled_bytes(64, 48, n_samples=23, fps=10, sync_every=5)))],
            "media_id long, kind string, payload binary",
        )
        table = video_sample_table(media)
        plan = {
            r["target_ms"]: (r["sample_idx"], r["ts_ms"])
            for r in video_frame_plan(table, every_ms=700).collect()
        }
        # targets run 0..last-keyframe-ts (2000), so 2100 is not a target
        assert plan == {0: (0, 0), 700: (5, 500), 1400: (10, 1000)}
        even = {
            r["target_ms"]: (r["sample_idx"], r["ts_ms"])
            for r in video_frame_plan(table, every_ms=1000).collect()
        }
        assert even == {0: (0, 0), 1000: (10, 1000), 2000: (20, 2000)}
        # byte ranges in the plan are real: every (offset, size) pair
        # came from the sample table
        ranges = {(r["byte_offset"], r["size"]) for r in table.collect()}
        for r in video_frame_plan(table, every_ms=700).collect():
            assert (r["byte_offset"], r["size"]) in ranges


class TestAudioFingerprint:
    def _media(self, spark, rows):
        return spark.createDataFrame(
            [(i, "audio", bytearray(b)) for i, b in rows],
            "media_id long, kind string, payload binary",
        )

    def test_shifted_excerpt_matches_source_with_exact_offset(self, spark):
        """A 10-frame-shifted excerpt of the NON-STATIONARY track 0 (a
        tone sequence — pure periodic tones would re-align at offset 0)
        matches track 0, not the spectrally distinct track 1, at exactly
        offset 10; landmark hashes of the excerpt are a subset of the
        source's."""
        import struct as _s

        from hgraphstorage_spark.pipeline.multimodal import (
            audio_fingerprints,
            audio_match,
            wav_sequence_bytes,
        )

        hop = 128
        steps_a = (500.0, 900.0, 1300.0, 700.0, 1700.0, 1100.0, 2100.0, 600.0)
        steps_b = (3100.0, 2700.0, 3500.0, 2500.0, 3300.0, 2900.0, 3700.0, 3900.0)
        a = wav_sequence_bytes(steps_a)
        b = wav_sequence_bytes(steps_b)
        # excerpt: drop the first 10 hops of PCM, rebuild both RIFF sizes
        pcm_off = a.index(b"data") + 8
        cut = a[pcm_off + 10 * hop :]
        head = bytearray(a[:pcm_off])
        head[4:8] = _s.pack("<I", pcm_off - 8 + len(cut))
        head[pcm_off - 4 : pcm_off] = _s.pack("<I", len(cut))
        ex = bytes(head) + cut
        corpus = self._media(spark, [(0, a), (1, b)])
        probe = self._media(spark, [(99, ex)])
        cfp = audio_fingerprints(corpus)
        pfp = audio_fingerprints(probe)
        got = audio_match(cfp, pfp).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["probe_id"], r["track_id"], r["offset"]) == (99, 0, 10)
        assert r["votes"] >= 10
        # subset property: every excerpt landmark exists in the source
        src = {x["fp_hash"] for x in cfp.filter("media_id = 0").collect()}
        exc = {x["fp_hash"] for x in pfp.collect()}
        assert exc and exc <= src

    def test_distinct_tracks_do_not_cross_match(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import (
            audio_fingerprints,
            audio_match,
            wav_tone_bytes,
        )

        a = wav_tone_bytes(1500, freqs_hz=(400.0,))
        b = wav_tone_bytes(1500, freqs_hz=(3100.0,))
        corpus = self._media(spark, [(0, a)])
        probe = self._media(spark, [(9, b)])
        got = audio_match(
            audio_fingerprints(corpus), audio_fingerprints(probe), min_votes=3
        ).collect()
        # a pure distinct tone shares (almost) no landmarks: no match row
        assert got == []


class TestAudioSpectral:
    def test_sawtooth_wav_features_match_numpy(self, spark):
        """Spectral features of the deterministic sawtooth WAVs equal a
        direct numpy STFT computed outside Spark; a periodic waveform is
        tonal (low flatness), and corrupt rows tier out honestly."""
        import numpy as np

        from hgraphstorage_spark.pipeline.multimodal import (
            audio_spectral_features,
            decode_wav_samples,
            synthetic_media,
        )

        media = synthetic_media(spark, 12)
        got = {r["media_id"]: r for r in audio_spectral_features(media).collect()}
        audio_rows = {r["media_id"]: r["payload"] for r in media.filter("kind='audio'").collect()}
        assert set(got) == set(audio_rows)
        n_fft, hop = 256, 128
        win, freqs = np.hanning(n_fft), np.arange(129) / n_fft
        for mid, payload in audio_rows.items():
            x = decode_wav_samples(bytes(payload))
            n_frames = 1 + (len(x) - n_fft) // hop
            idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
            power = (np.abs(np.fft.rfft(x[idx] * win[None, :], axis=1)) ** 2).mean(axis=0)
            p = power / power.sum()
            r = got[mid]
            assert r["decode_ok"] and r["n_frames"] == n_frames
            assert abs(r["spectral_centroid"] - (freqs * p).sum()) < 1e-5
            assert r["spectral_flatness"] < 0.5  # periodic -> tonal

    def test_non_wav_audio_rows_tier_out(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import (
            MEDIA_SCHEMA,
            audio_spectral_features,
        )

        media = spark.createDataFrame(
            [(0, "audio", bytearray(b"garbage-not-a-wav-payload"), (None, None, None, None))],
            MEDIA_SCHEMA,
        )
        r = audio_spectral_features(media).collect()[0]
        assert r["decode_ok"] is False and r["spectral_centroid"] is None


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """The keeper policy: highest quality wins (not min id); ties break
    to smallest id; every cluster keeps exactly one document."""
    from hgraphstorage_spark.pipeline.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "doc_id long, cluster long",
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 90), (3, 90), (10, 7), (11, 3), (20, 1)],
        "doc_id long, n_chars long",
    )
    got = {r["doc_id"]: r for r in dedup_keep_best(clusters, docs, "n_chars").collect()}
    kept = {i for i, r in got.items() if r["keep"]}
    # cluster 1: quality tie 90 between 2 and 3 -> smallest id 2 (NOT min id 1)
    assert kept == {2, 10, 20}
    per_cluster = {}
    for r in got.values():
        per_cluster.setdefault(r["cluster"], 0)
        per_cluster[r["cluster"]] += int(r["keep"])
    assert all(v == 1 for v in per_cluster.values())


def test_dedup_keep_best_string_ids(spark):
    """ADVICE r5 regression: string doc_ids must tie-break correctly —
    the old -F.col(id) negation went NULL on strings and marked NO
    keeper in tied clusters."""
    from hgraphstorage_spark.pipeline.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [("b", "a"), ("a", "a"), ("c", "a")], "doc_id string, cluster string"
    )
    docs = spark.createDataFrame(
        [("a", 90), ("b", 90), ("c", 5)], "doc_id string, n_chars long"
    )
    got = {r["doc_id"]: r for r in dedup_keep_best(clusters, docs, "n_chars").collect()}
    assert {i for i, r in got.items() if r["keep"]} == {"a"}  # tie -> smallest id
    assert all(r["keep"] is not None for r in got.values())


def test_dedup_keep_best_null_quality_loses(spark):
    """r6 review catch: a NULL-quality row must never win the keeper
    argmax — struct comparison sorts a NULL field FIRST under min, so
    the naive min_by(struct(-q, id)) crowned the unscored copy; the
    leading null-flag sends it last (oracle: quality DESC NULLS LAST)."""
    from hgraphstorage_spark.pipeline.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "doc_id long, cluster long"
    )
    docs = spark.createDataFrame(
        [(1, 90), (2, None), (3, 5), (10, None), (11, None)],
        "doc_id long, n_chars long",
    )
    got = {r["doc_id"]: r for r in dedup_keep_best(clusters, docs, "n_chars").collect()}
    assert {i for i, r in got.items() if r["keep"]} == {1, 10}  # 1: best scored;
    # cluster 10 is all-NULL: ties fall to the smallest id, one keeper still marked


def test_url_normalized_bare_path_ampersand(spark):
    """ADVICE r5 regression: a legal '&' in a path of a URL that never
    had a query must NOT be promoted to '?' — 'a&b' and 'a?b' are
    distinct pages."""
    from hgraphstorage_spark.pipeline.dedup import url_normalized

    cases = [
        ("example.com/a&b", "example.com/a&b"),          # bare path '&' untouched
        ("example.com/a?b", "example.com/a?b"),          # stays distinct from the above
        ("example.com/p?utm_x=2&a=1", "example.com/p?a=1"),  # real promotion still fires
        ("example.com/p?utm_a=1&utm_b=2&c=3", "example.com/p?c=3"),
        ("example.com/p?a=1&utm_x=2&b=3", "example.com/p?a=1&b=3"),  # mid-query strip, no promotion
        ("example.com/p?utm_a=1", "example.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["n"] for r in df.select(url_normalized(F.col("url")).alias("n")).collect()]
    assert got == [w for _, w in cases], got


class TestSimhashNearDupPairs:
    def test_lossless_at_pigeonhole_radius(self, spark):
        """With 4 bands, band-equality blocking is LOSSLESS for hamming
        <= 3 (pigeonhole): the banded operator must equal the brute-force
        all-pairs filter exactly on real documents."""
        from hgraphstorage_spark.pipeline.dedup import hamming64, simhash, simhash_near_dup_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_dup_pairs(docs, max_distance=3).collect()
        }
        fps = simhash(docs).cache()
        fps.count()
        a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
        b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
        brute = (
            a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", hamming64(F.col("sa"), F.col("sb")).cast("long"))
            .filter(F.col("hamming") <= 3)
        )
        want = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()}
        fps.unpersist()
        assert got == want

    def test_identical_docs_pair_at_zero(self, spark):
        from hgraphstorage_spark.pipeline.dedup import simhash_near_dup_pairs

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again and again"),
             (2, "the quick brown fox jumps over the lazy dog again and again"),
             (3, "completely unrelated text about database storage engines")],
            "doc_id long, text string",
        )
        rows = simhash_near_dup_pairs(docs, max_distance=3).collect()
        assert {(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows} == {(1, 2, 0)}

    def test_band_freq_cap_is_subset(self, spark):
        """Capped pairs ⊆ uncapped pairs (the hot-band mitigation only
        removes candidates, never invents them)."""
        from hgraphstorage_spark.pipeline.dedup import simhash_near_dup_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        uncapped = {
            (r["doc_a"], r["doc_b"]) for r in simhash_near_dup_pairs(docs).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_dup_pairs(docs, max_band_freq=5).collect()
        }
        assert capped <= uncapped

    def test_bands_must_divide_word(self, spark):
        from hgraphstorage_spark.pipeline.dedup import simhash_near_dup_pairs

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            simhash_near_dup_pairs(docs, bands=5)


class TestPerplexityBuckets:
    def test_thirds_and_ordering(self, spark):
        """Every language splits into thirds ordered head <= middle <=
        tail by avg_nll; zero-token docs produce no row; all scored docs
        appear exactly once."""
        from hgraphstorage_spark.pipeline import perplexity_buckets

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        target = docs.filter(F.col("source") == "src0")
        rows = perplexity_buckets(docs, target).collect()
        assert len(rows) == docs.filter(F.length(F.trim("text")) > 0).count()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        for lang, rs in by_lang.items():
            buckets = {b: [float(r["avg_nll"]) for r in rs if r["bucket"] == b]
                       for b in ("head", "middle", "tail")}
            n = len(rs)
            if n >= 3:
                assert all(buckets.values()), f"{lang}: empty bucket"
                assert max(buckets["head"]) <= min(buckets["middle"]) or n < 6
                assert max(buckets["middle"]) <= min(buckets["tail"]) or n < 6
            assert abs(len(buckets["head"]) - n / 3) <= 1

    def test_oov_scores_worse_than_target_text(self, spark):
        """A doc of pure OOV gibberish must land at strictly higher
        avg_nll than a doc repeating the target's most common words."""
        from hgraphstorage_spark.pipeline import perplexity_buckets

        target = spark.createDataFrame(
            [(100, "the cat sat on the mat", "en")],
            "doc_id long, text string, lang string",
        )
        docs = spark.createDataFrame(
            [(1, "the the cat cat", "en"), (2, "zxqv wvut qqzz ppfff", "en")],
            "doc_id long, text string, lang string",
        )
        got = {r["doc_id"]: r for r in perplexity_buckets(docs, target).collect()}
        assert float(got[2]["avg_nll"]) > float(got[1]["avg_nll"])
        assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 4


class TestMediaNearDup:
    def test_duplicate_images_pair_cross_kind_never(self, spark):
        """Identical BMP payloads pair at hamming 0; image fingerprints
        never pair with audio rows even if numerically close; undecodable
        payloads never appear."""
        from hgraphstorage_spark.pipeline.multimodal import (
            MEDIA_SCHEMA,
            bmp_bytes,
            media_near_dup_pairs,
            wav_bytes,
        )

        rows = [
            {"media_id": 1, "kind": "image", "payload": bmp_bytes(32, 24),
             "meta": {"codec": "bmp", "width": 32, "height": 24, "duration_ms": None}},
            {"media_id": 2, "kind": "image", "payload": bmp_bytes(32, 24),
             "meta": {"codec": "bmp", "width": 32, "height": 24, "duration_ms": None}},
            {"media_id": 3, "kind": "image", "payload": bmp_bytes(40, 30, pixel_fn=lambda x, y: (255 - x, y, x)),
             "meta": {"codec": "bmp", "width": 40, "height": 30, "duration_ms": None}},
            {"media_id": 4, "kind": "audio", "payload": wav_bytes(4000, pattern=True),
             "meta": {"codec": "wav", "width": None, "height": None, "duration_ms": 4000}},
            {"media_id": 5, "kind": "audio", "payload": wav_bytes(4000, pattern=True),
             "meta": {"codec": "wav", "width": None, "height": None, "duration_ms": 4000}},
            {"media_id": 6, "kind": "video", "payload": b"\x00" * 64,
             "meta": {"codec": "h264", "width": None, "height": None, "duration_ms": 1000}},
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {(r["media_a"], r["media_b"]): r["hamming"]
               for r in media_near_dup_pairs(media).collect()}
        assert got.get((1, 2)) == 0          # identical images
        assert got.get((4, 5)) == 0          # identical audio
        assert all(not (a in (4, 5)) or (b in (4, 5)) for a, b in got)  # no cross-kind
        assert all(6 not in p for p in got)  # undecodable video never pairs

    def test_matches_brute_force_on_synthetic_media(self, spark):
        """Banded pairs == brute-force hamming<=3 filter over the
        decodable synthetic media fingerprints (pigeonhole losslessness,
        media edition)."""
        from hgraphstorage_spark.pipeline.dedup import hamming64
        from hgraphstorage_spark.pipeline.multimodal import (
            media_fingerprints,
            media_near_dup_pairs,
            synthetic_media,
        )

        media = synthetic_media(spark, n=48)
        fps = media_fingerprints(media).filter(F.col("fp_ok")).cache()
        fps.count()
        a = fps.select(F.col("media_id").alias("media_a"), F.col("kind").alias("ka"),
                       F.col("fingerprint").alias("fa"))
        b = fps.select(F.col("media_id").alias("media_b"), F.col("kind").alias("kb"),
                       F.col("fingerprint").alias("fb"))
        brute = (
            a.crossJoin(b)
            .filter((F.col("media_a") < F.col("media_b")) & (F.col("ka") == F.col("kb")))
            .withColumn("hamming", hamming64(F.col("fa"), F.col("fb")).cast("long"))
            .filter(F.col("hamming") <= 3)
        )
        want = {(r["media_a"], r["media_b"], r["hamming"]) for r in brute.collect()}
        got = {(r["media_a"], r["media_b"], r["hamming"])
               for r in media_near_dup_pairs(media).collect()}
        fps.unpersist()
        assert got == want


class TestContentTypeStats:
    def test_line_classes_and_urls(self, spark):
        from hgraphstorage_spark.pipeline import content_type_stats

        doc = "\n".join([
            "# Title",
            "prose line",
            "    indented code;",
            "\tmore code {",
            "> a quote",
            "- bullet one",
            "* bullet two",
            "see https://example.com and http://other.org",
        ])
        docs = spark.createDataFrame([(1, doc), (2, "")], "doc_id long, text string")
        got = {r["doc_id"]: r for r in content_type_stats(docs).collect()}
        r = got[1]
        assert r["n_lines"] == 8 and r["n_urls"] == 2
        assert float(r["code_frac"]) == round(2 / 8, 6)
        assert float(r["header_frac"]) == round(1 / 8, 6)
        assert float(r["quote_frac"]) == round(1 / 8, 6)
        assert float(r["bullet_frac"]) == round(2 / 8, 6)
        # empty doc: one empty line (split contract), zero everything
        assert got[2]["n_lines"] == 1 and float(got[2]["code_frac"]) == 0.0


def test_tokenizer_fertility_exact_small_case(spark):
    """Two merges on a known corpus: fertility and chars/token follow
    from hand-computed token counts; per-language grouping holds."""
    from hgraphstorage_spark.pipeline import bpe_train, tokenizer_fertility

    docs = spark.createDataFrame(
        [(1, "low low lower", "en"), (2, "low lowest", "en"), (3, "niedrig", "de")],
        "doc_id long, text string, lang string",
    )
    merges, _vocab = bpe_train(docs, n_merges=2)
    out = {r["lang"]: r for r in tokenizer_fertility(docs, merges).collect()}
    en, de = out["en"], out["de"]
    assert en["n_docs"] == 2 and de["n_docs"] == 1
    assert en["n_words"] == 5 and de["n_words"] == 1
    # exactness: fertility = round(n_tokens/n_words, 6) from integer sums
    assert float(en["fertility"]) == round(en["n_tokens"] / en["n_words"], 6)
    assert float(de["chars_per_token"]) == round(7 / de["n_tokens"], 6)
    # 'low' appears 3x: with 2 merges learned on this corpus it must
    # tokenize shorter than character count; fertility reflects that
    assert en["n_tokens"] < sum(len(w) + 1 for w in "low low lower low lowest".split())


def test_quality_reject_reasons_names_each_violation(spark):
    from hgraphstorage_spark.pipeline import quality_reject_reasons

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten ok fine"),  # passes
            (2, "tiny doc"),                                # too few tokens
            (3, " ".join(["sesquipedalianism"] * 20)),      # long tokens + repetition
            (4, ""),                                        # empty: only too_few
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_reject_reasons(docs).collect()}
    assert got[1]["passes"] and got[1]["reasons"] == ""
    # 2 tokens, each unique: ratio 0.5 > 0.25 fires alongside the count rule
    assert got[2]["reasons"] == "too_few_tokens,top_term_ratio_high"
    assert got[3]["reasons"] == "mean_tok_len_high,top_term_ratio_high"
    assert got[4]["reasons"] == "too_few_tokens" and not got[4]["passes"]
    # invariant: reasons empty iff passes
    assert all((r["reasons"] == "") == r["passes"] for r in got.values())


def test_mp4_probe_round_trip_and_malformed():
    """ISO-BMFF probe: writer/parser round trip (either side wrong breaks
    it), truncation and missing-moov bail to None, v1 mvhd parses."""
    import struct

    from hgraphstorage_spark.pipeline.multimodal import mp4_bytes, parse_media_header

    assert parse_media_header(mp4_bytes(1920, 1080, 90000)) == ("mp4", 1920, 1080, 90000)
    b = mp4_bytes(640, 360, 12345)
    assert parse_media_header(b[: len(b) // 2]) is None      # truncated moov
    assert parse_media_header(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00") is None  # no moov
    # version-1 mvhd (64-bit times): hand-build and confirm duration math
    mvhd1 = struct.pack(">I", 8 + 4 + 8 + 8 + 4 + 8) + b"mvhd" + b"\x01\x00\x00\x00" \
        + b"\x00" * 16 + struct.pack(">I", 600) + struct.pack(">Q", 1200)
    moov = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    ftyp = b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"
    assert parse_media_header(ftyp + moov) == ("mp4", None, None, 2000)


@pytest.mark.slow
def test_ann_recall_report_properties(spark):
    """recall in [0,1] per probe query; probing ALL lists makes IVF
    exhaustive, so recall must be exactly 1.0."""
    from hgraphstorage_spark.pipeline.similarity import ann_recall_report

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = ann_recall_report(embs, query_ids=[0, 7], k=10).collect()
    assert len(rows) == 2
    assert all(0.0 <= float(r["recall"]) <= 1.0 and r["n_hits"] <= r["k"] for r in rows)
    full = ann_recall_report(embs, query_ids=[0, 7], k=10, nlist=16, nprobe=16).collect()
    assert all(float(r["recall"]) == 1.0 for r in full)


def test_dsir_scores_every_document_including_gramless(spark):
    """NULL/empty/whitespace-only docs pass through with n_grams=0 and
    the empty-sum log_weight 0 — dsir_sample(k) can still select them
    and never comes up short."""
    from hgraphstorage_spark.pipeline.sampling import dsir_sample, dsir_weights

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") == 1)
    w = {r["doc_id"]: r for r in dsir_weights(docs, target, n_buckets=64).collect()}
    assert set(w) == {1, 2, 3, 4}
    for empty_id in (2, 3, 4):
        assert w[empty_id]["n_grams"] == 0 and float(w[empty_id]["log_weight"]) == 0.0
    assert dsir_sample(docs, target, k=4, n_buckets=64).count() == 4


class TestRound6PipelineWave:
    def test_nb_quality_separates_planted_classes(self, spark):
        """Docs made of positive-seed vocabulary score > 0; background
        vocabulary scores < 0; a doc of unseen tokens scores exactly 0
        (OOV policy); empty doc passes through with zeros."""
        from hgraphstorage_spark.pipeline.text import nb_quality_model, nb_quality_score

        rows = [
            (1, "good clean prose text", "pos"),
            (2, "good clean curated text", "pos"),
            (3, "spam junk casino pills", "neg"),
            (4, "junk pills spam spam", "neg"),
            (5, "good clean prose", "unlabeled"),
            (6, "casino pills junk", "unlabeled"),
            (7, "", "unlabeled"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        model = nb_quality_model(docs, docs.filter("source = 'pos'"))
        got = {r["doc_id"]: r for r in nb_quality_score(docs, model).collect()}
        assert len(got) == 7  # full passthrough
        assert got[5]["positive"] and float(got[5]["score"]) > 0
        assert not got[6]["positive"] and float(got[6]["score"]) < 0
        assert got[7]["n_toks"] == 0 and float(got[7]["score"]) == 0.0
        # OOV tokens contribute 0
        oov = spark.createDataFrame([(9, "zzz qqq", "x")], "doc_id long, text string, source string")
        r9 = nb_quality_score(oov, model).collect()[0]
        assert float(r9["score"]) == 0.0 and r9["n_toks"] == 2

    def test_novelty_first_copy_high_echo_zero(self, spark):
        from hgraphstorage_spark.pipeline.dedup import novelty_scores

        text = "alpha beta gamma delta epsilon zeta"
        rows = [(1, text), (2, text), (3, "totally different words here now")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in novelty_scores(docs, n=3).collect()}
        assert float(got[1]["novelty"]) == 1.0  # first copy: every shingle novel
        assert float(got[2]["novelty"]) == 0.0  # exact echo: nothing novel
        assert float(got[3]["novelty"]) == 1.0
        assert got[1]["n_grams"] == got[2]["n_grams"] == 4

    def test_vocab_drift_flags_overrepresented_token(self, spark):
        from hgraphstorage_spark.pipeline.text import vocab_drift

        a = spark.createDataFrame(
            [(i, "surge surge surge common") for i in range(5)], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(100 + i, "common words only") for i in range(5)], "doc_id long, text string"
        )
        top = vocab_drift(a, b, top_k=3).collect()
        assert top[0]["token"] == "surge" and top[0]["rank"] == 1
        assert float(top[0]["contrib"]) > 0

    def test_domain_quality_blocklist_rules(self, spark):
        """A 2-doc domain failing both docs is blocked; a 1-doc failing
        domain is NOT (min_docs guard); a passing domain is not."""
        from hgraphstorage_spark.pipeline.dedup import domain_quality

        rows = [
            (1, "https://farm.com/a", False),
            (2, "http://farm.com/b", False),
            (3, "https://good.org/a", True),
            (4, "https://good.org/b", True),
            (5, "https://tiny.net/only", False),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, url string, passes boolean")
        got = {r["domain"]: r for r in domain_quality(docs, min_docs=2).collect()}
        assert got["farm.com"]["blocked"] and got["farm.com"]["n_pass"] == 0
        assert not got["good.org"]["blocked"] and float(got["good.org"]["pass_rate"]) == 1.0
        assert not got["tiny.net"]["blocked"]  # min_docs guard


def test_unimax_allocation_waterfilling(spark):
    """Small groups saturate at cap; the rest split the leftover evenly;
    a budget above the total cap saturates everyone."""
    from hgraphstorage_spark.pipeline.sampling import unimax_allocation

    counts = spark.createDataFrame(
        [("lo", 100), ("mid", 500), ("hi", 10000)], "lang string, available long"
    )
    got = {r["lang"]: r for r in unimax_allocation(counts, budget=3000, max_epochs=2).collect()}
    # caps: lo 200, mid 1000, hi 20000. lo: 200*3 <= 3000 -> sat.
    # mid: 1000*2 <= 2800 -> sat. hi: 20000 > 1800 -> share 1800.
    assert got["lo"]["saturated"] and float(got["lo"]["alloc"]) == 200.0
    assert got["mid"]["saturated"] and float(got["mid"]["alloc"]) == 1000.0
    assert not got["hi"]["saturated"] and float(got["hi"]["alloc"]) == 1800.0
    # allocations sum to the budget when anyone is unsaturated
    assert sum(float(r["alloc"]) for r in got.values()) == 3000.0
    # budget above total cap: everyone saturates, surplus unallocated
    all_sat = unimax_allocation(counts, budget=10**9, max_epochs=2).collect()
    assert all(r["saturated"] for r in all_sat)
    assert sum(float(r["alloc"]) for r in all_sat) == float(2 * (100 + 500 + 10000))
    # r6 review catch: multi-trillion-token caps must not overflow the
    # alloc decimal into NULL (DECIMAL(18,6) tops out at ~1e12)
    big = spark.createDataFrame(
        [("web", 10**13), ("code", 10**12)], "lang string, available long"
    )
    rows = {r["lang"]: r for r in unimax_allocation(big, budget=5 * 10**12).collect()}
    assert all(r["alloc"] is not None for r in rows.values())
    # code: cap 2e12 fits under the equal share (2e12*2 <= 5e12) -> saturates
    assert rows["code"]["saturated"] and float(rows["code"]["alloc"]) == float(2 * 10**12)
    assert not rows["web"]["saturated"] and float(rows["web"]["alloc"]) == float(3 * 10**12)


def test_shard_plan_packs_in_hash_order(spark):
    """Every shard except the last carries >= tokens_per_shard tokens,
    docs are never split, cum_tokens is the exact hash-order prefix sum,
    and the plan is a pure function of the data (rerun-identical)."""
    from hgraphstorage_spark.pipeline.sampling import shard_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = shard_plan(docs, tokens_per_shard=500).collect()
    assert len(got) == docs.count()
    # a doc belongs to the shard whose 500-token range contains its first
    # token; ids are compacted gap-free, so recover each shard's raw range
    # from its earliest start — a non-final shard's coverage must CROSS
    # that range's upper boundary (totals can dip under T only when a
    # neighbour's doc spills across — that's by design)
    end_cum, start_min = {}, {}
    for r in got:
        s = r["shard_id"]
        end_cum[s] = max(end_cum.get(s, 0), r["cum_tokens"])
        start = r["cum_tokens"] - r["n_tokens"]
        start_min[s] = min(start_min.get(s, start), start)
    last = max(end_cum)
    assert sorted(end_cum) == list(range(last + 1))  # gap-free 0..n-1
    for s in end_cum:
        raw_block = start_min[s] // 500
        assert start_min[s] >= raw_block * 500
        if s != last:
            assert end_cum[s] >= (raw_block + 1) * 500, (s, end_cum[s])
    # compact order preserves raw order
    raws = [start_min[s] // 500 for s in sorted(start_min)]
    assert raws == sorted(raws) and len(set(raws)) == len(raws)
    # exact global prefix sum: max cum == total tokens
    assert max(r["cum_tokens"] for r in got) == sum(r["n_tokens"] for r in got)
    again = shard_plan(docs, tokens_per_shard=500).collect()
    assert {(r["doc_id"], r["shard_id"]) for r in again} == {
        (r["doc_id"], r["shard_id"]) for r in got
    }


def test_shard_plan_long_doc_never_gaps(spark):
    """A document longer than tokens_per_shard spans several raw ranges;
    compaction must keep shard ids contiguous (the dataloader contract)."""
    from hgraphstorage_spark.pipeline.sampling import shard_plan

    rows = [(i, " ".join(["tok"] * (1100 if i == 3 else 60))) for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = shard_plan(docs, tokens_per_shard=100).collect()
    ids = sorted({r["shard_id"] for r in got})
    assert ids == list(range(len(ids))), ids
    # the long doc occupies exactly one shard (never split)
    long_rows = [r for r in got if r["n_tokens"] == 1100]
    assert len(long_rows) == 1


def test_novelty_sums_to_distinct_shingle_count(spark):
    """Global invariant: every distinct shingle is novel in exactly its
    first document, so sum(n_novel) == |distinct (shingle)| over the
    corpus — a cheap full-corpus conservation law."""
    from pyspark.sql import functions as F

    from hgraphstorage_spark.pipeline.dedup import novelty_scores, shingle_hashes

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nv = novelty_scores(docs, n=3)
    total_novel = nv.agg(F.sum("n_novel")).collect()[0][0]
    distinct_shingles = (
        shingle_hashes(docs, "text", "doc_id", 3)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .count()
    )
    assert total_novel == distinct_shingles


class TestSessionize:
    def _ev(self, spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_gap_boundary_inclusive(self, spark):
        """An exactly-gap-wide silence does NOT split (strictly-greater
        rule); one microsecond more does."""
        from hgraphstorage_spark.functions.timeseries import sessionize

        rows = [
            (1, "2024-01-01 00:00:00", 7, 1.0),
            (2, "2024-01-01 00:10:00", 7, 2.0),     # exactly 600 s later
            (3, "2024-01-01 00:20:00.000001", 7, 4.0),  # 600 s + 1 us
        ]
        out = {
            (r["user_id"], r["event_id"]): r["session_seq"]
            for r in sessionize(self._ev(spark, rows), gap_seconds=600, emit="events").collect()
        }
        assert out[(7, 1)] == 1 and out[(7, 2)] == 1
        assert out[(7, 3)] == 2

    def test_session_aggregates_hand_computed(self, spark):
        from hgraphstorage_spark.functions.timeseries import sessionize

        rows = [
            (1, "2024-01-01 00:00:00", 7, 1.0),
            (2, "2024-01-01 00:05:00", 7, 2.5),
            (3, "2024-01-01 02:00:00", 7, 4.0),   # new session (gap 600 s)
            (4, "2024-01-01 00:00:00", 8, 9.0),   # other user isolated
        ]
        got = {
            (r["user_id"], r["session_seq"]): r
            for r in sessionize(self._ev(spark, rows), gap_seconds=600).collect()
        }
        assert len(got) == 3
        s1 = got[(7, 1)]
        assert s1["n_events"] == 2
        assert float(s1["total_value"]) == 3.5
        assert s1["duration_s"] == 300
        assert got[(7, 2)]["n_events"] == 1 and got[(7, 2)]["duration_s"] == 0
        assert got[(8, 1)]["n_events"] == 1

    def test_events_emit_preserves_rows(self, spark):
        from hgraphstorage_spark.functions.timeseries import sessionize
        from hgraphstorage_spark.streaming import load_events

        ev = load_events(spark, "/root/testdata/sf0.001")
        out = sessionize(ev, gap_seconds=3600, emit="events")
        assert out.count() == ev.count()

    def test_bad_emit_raises(self, spark):
        import pytest as _pytest

        from hgraphstorage_spark.functions.timeseries import sessionize
        from hgraphstorage_spark.streaming import load_events

        with _pytest.raises(ValueError, match="emit"):
            sessionize(load_events(spark, "/root/testdata/sf0.001"), emit="rows")

    def test_agrees_with_streaming_session_window(self, spark):
        """Batch sessionize == the session_window streaming twin on real
        data: same (user, session_start, n_events, total_value) multiset.
        (Boundary rule differs only at an exactly-gap-wide silence —
        measure-zero with microsecond timestamps; see docstrings.)"""
        from hgraphstorage_spark.functions.timeseries import sessionize
        from hgraphstorage_spark.streaming import load_events
        from hgraphstorage_spark.streaming import sessionize as sw_sessionize

        ev = load_events(spark, "/root/testdata/sf0.001")
        batch = {
            (r["user_id"], str(r["session_start"]), r["n_events"], str(r["total_value"]))
            for r in sessionize(ev, gap_seconds=3600).collect()
        }
        sw = {
            (r["user_id"], str(r["session_start"]), r["n_events"], str(r["total_value"]))
            for r in sw_sessionize(ev, gap="1 hour").collect()
        }
        assert batch == sw


class TestSearchEval:
    def _frames(self, spark):
        # ranking: 4 docs for one query; qrels: graded (doc 20 unjudged,
        # doc 40 judged-irrelevant, doc 99 relevant-but-unretrieved)
        ranking = spark.createDataFrame(
            [(1, 10, 1), (1, 20, 2), (1, 30, 3), (1, 40, 4)],
            "query_id int, doc_id long, rank int",
        )
        qrels = spark.createDataFrame(
            [(1, 10, 2.0), (1, 30, 1.0), (1, 40, 0.0), (1, 99, 3.0)],
            "query_id int, doc_id long, rel double",
        )
        return ranking, qrels

    def test_hand_computed_metrics(self, spark):
        import math

        from hgraphstorage_spark.pipeline.search import search_eval

        ranking, qrels = self._frames(spark)
        got = {r["k"]: r for r in search_eval(ranking, qrels, ks=(1, 4)).collect()}
        # n_rel counts rel > 0 judgments (docs 10, 30, 99)
        assert got[1]["n_rel"] == 3 and got[4]["n_rel"] == 3
        assert got[1]["hits"] == 1 and got[4]["hits"] == 2
        assert float(got[1]["precision"]) == 1.0
        assert float(got[4]["precision"]) == 0.5
        assert round(float(got[4]["recall"]), 6) == round(2 / 3, 6)
        assert float(got[1]["mrr"]) == 1.0 and float(got[4]["mrr"]) == 1.0
        # DCG@4 = 2/log2(2) + 1/log2(4) = 2 + 0.5; ideal@4 = 3/log2(2) +
        # 2/log2(3) + 1/log2(4) (grades 3,2,1 at positions 1,2,3)
        dcg = 2.0 + 1.0 / 2.0
        idcg = 3.0 + 2.0 / math.log2(3.0) + 0.5
        assert abs(float(got[4]["ndcg"]) - dcg / idcg) < 1e-6
        # nDCG@1: best possible grade at rank 1 is 3 (doc 99), we got 2
        assert abs(float(got[1]["ndcg"]) - 2.0 / 3.0) < 1e-6

    def test_no_relevant_judgments_null_recall(self, spark):
        from hgraphstorage_spark.pipeline.search import search_eval

        ranking = spark.createDataFrame(
            [(1, 10, 1)], "query_id int, doc_id long, rank int"
        )
        qrels = spark.createDataFrame(
            [(1, 40, 0.0)], "query_id int, doc_id long, rel double"
        )
        row = search_eval(ranking, qrels, ks=(1,)).collect()[0]
        assert row["n_rel"] == 0 and row["hits"] == 0
        assert row["recall"] is None and row["ndcg"] is None
        assert float(row["mrr"]) == 0.0

    def test_bad_ks_raise(self, spark):
        import pytest as _pytest

        from hgraphstorage_spark.pipeline.search import search_eval

        ranking, qrels = self._frames(spark)
        with _pytest.raises(ValueError, match="ks"):
            search_eval(ranking, qrels, ks=(0, 5))


class TestFuzzyDecontaminate:
    def test_flags_paraphrase_misses_clean(self, spark):
        """A corpus doc that is a light edit of an eval doc flags; an
        unrelated doc does not; every corpus doc returns with its flag."""
        from hgraphstorage_spark.pipeline.contamination import fuzzy_decontaminate

        eval_text = "the quick brown fox jumps over the lazy dog " * 6
        near = eval_text.replace("lazy dog", "sleepy dog", 1)
        clean = "completely different words about spark shuffles and joins " * 6
        corpus = spark.createDataFrame(
            [(1, near), (2, clean)], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
        got = {r["doc_id"]: r for r in fuzzy_decontaminate(corpus, bench, threshold=0.5).collect()}
        assert len(got) == 2
        assert got[1]["contaminated"] and got[1]["n_matches"] >= 1
        assert float(got[1]["max_jaccard"]) >= 0.5
        assert not got[2]["contaminated"] and got[2]["max_jaccard"] is None

    def test_agrees_with_incremental_near_dup(self, spark):
        """The flag set == distinct doc_ids incremental_near_dup reports
        (composition law, real corpus)."""
        from pyspark.sql import functions as F

        from hgraphstorage_spark.pipeline.contamination import fuzzy_decontaminate
        from hgraphstorage_spark.pipeline.dedup import incremental_near_dup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        bench = docs.filter(F.col("doc_id") % 10 == 0)
        flagged = {
            r["doc_id"]
            for r in fuzzy_decontaminate(corpus, bench, threshold=0.5)
            .filter("contaminated")
            .collect()
        }
        pairs = {
            r["doc_id"]
            for r in incremental_near_dup(corpus, bench, threshold=0.5).collect()
        }
        assert flagged == pairs


class TestTopicClusters:
    def test_tfidf_vectors_hand_computed(self, spark):
        """Exact vector check vs a python replica of the md5 bucketing and
        the floor(tf * ln(1 + N/df) * scale) quantization."""
        import hashlib
        import math

        from hgraphstorage_spark.pipeline.text import tfidf_vectors

        texts = {1: "apple banana apple", 2: "banana cherry", 3: "date"}
        docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        d, scale = 16, 1000
        got = {r["doc_id"]: r["v"] for r in tfidf_vectors(docs, d=d, scale=scale, hash_mode="md5").collect()}

        def bucket(t):
            return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % d

        tf = {
            did: [sum(1 for t in txt.split() if bucket(t) == b) for b in range(d)]
            for did, txt in texts.items()
        }
        df = [sum(1 for did in texts if tf[did][b] > 0) for b in range(d)]
        n = len(texts)
        for did in texts:
            want = [
                math.floor(tf[did][b] * (math.log(1.0 + n / df[b]) if df[b] else 0.0) * scale)
                for b in range(d)
            ]
            assert got[did] == want, did

    def test_empty_doc_excluded(self, spark):
        from hgraphstorage_spark.pipeline.text import tfidf_vectors

        docs = spark.createDataFrame(
            [(1, "some words here"), (2, "   ")], "doc_id long, text string"
        )
        ids = {r["doc_id"] for r in tfidf_vectors(docs).collect()}
        assert ids == {1}

    def test_every_doc_assigned_to_seed_topic(self, spark):
        from pyspark.sql import functions as F

        from hgraphstorage_spark.pipeline.similarity import topic_clusters

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        tc = topic_clusters(docs, n_topics=4)
        assert tc.count() == docs.filter(F.length(F.trim("text")) > 0).count()
        seeds = {r["doc_id"] for r in docs.orderBy("doc_id").limit(4).collect()}
        topics = {r["topic"] for r in tc.select("topic").distinct().collect()}
        assert topics <= seeds

    def test_top_terms_ranked_by_count(self, spark):
        from hgraphstorage_spark.pipeline.similarity import topic_top_terms

        docs = spark.createDataFrame(
            [(1, "x x x y y z"), (2, "y z z")], "doc_id long, text string"
        )
        asg = spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, topic long")
        rows = topic_top_terms(docs, asg, top_k=2).collect()
        # x=3, y=3, z=3 — alphabetical tie-break picks x then y
        assert [(r["token"], r["n"], r["rank"]) for r in rows] == [("x", 3, 1), ("y", 3, 2)]


class TestQuantileHistogram:
    def test_equal_depth_and_edges(self, spark):
        from hgraphstorage_spark.functions.stats import quantile_histogram

        df = spark.createDataFrame(
            [(i, float(i * i)) for i in range(1, 101)], "event_id long, value double"
        )
        rows = {r["bin"]: r for r in quantile_histogram(df, "value", n_bins=4).collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert all(rows[b]["n"] == 25 for b in rows)
        assert rows[1]["lo"] == 1.0 and rows[1]["hi"] == 625.0       # 25^2
        assert rows[4]["lo"] == 5776.0 and rows[4]["hi"] == 10000.0  # 76^2..100^2
        # bins partition the ordered domain: each hi < next lo
        assert rows[1]["hi"] < rows[2]["lo"] and rows[3]["hi"] < rows[4]["lo"]

    def test_nulls_excluded_uneven_split(self, spark):
        from hgraphstorage_spark.functions.stats import quantile_histogram

        df = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0), (4, None), (5, 5.0)],
            "event_id long, value double",
        )
        rows = {r["bin"]: r["n"] for r in quantile_histogram(df, "value", n_bins=3).collect()}
        assert sum(rows.values()) == 4  # NULL dropped
        assert rows == {1: 2, 2: 1, 3: 1}  # floor-based split: 2,1,1


class TestTopicModelSplit:
    def test_split_equals_fused_vectors(self, spark):
        """tfidf_apply(docs, tfidf_idf_table(docs)) == tfidf_vectors(docs)
        EXACTLY — the persistable-model split can't drift from the fused
        operator."""
        from hgraphstorage_spark.pipeline.text import (
            tfidf_apply,
            tfidf_idf_table,
            tfidf_vectors,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        fused = {r["doc_id"]: r["v"] for r in tfidf_vectors(docs, hash_mode="md5").collect()}
        idf = tfidf_idf_table(docs, hash_mode="md5")
        split = {r["doc_id"]: r["v"] for r in tfidf_apply(docs, idf, hash_mode="md5").collect()}
        assert fused == split and len(fused) > 0

    def test_assign_round_trips_model_parquet(self, spark, tmpdir):
        """The (idf, centroids) model survives a parquet round trip and
        assigns identically — the artifact a production run would save."""
        from tests.conftest import bag

        from hgraphstorage_spark.pipeline.similarity import topic_assign, topic_model

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        idf, cents = topic_model(docs, n_topics=4)
        want = bag(topic_assign(docs, idf, cents))
        idf.write.mode("overwrite").parquet(f"{tmpdir}/idf")
        cents.write.mode("overwrite").parquet(f"{tmpdir}/cents")
        got = bag(
            topic_assign(
                docs,
                spark.read.parquet(f"{tmpdir}/idf"),
                spark.read.parquet(f"{tmpdir}/cents"),
            )
        )
        assert got == want and len(got) == 500

    def test_zero_vector_routes_to_smallest_topic(self, spark):
        """A doc whose every token hashes to a bucket unseen in training
        has a zero TF-IDF vector. Its cosine to every centroid is NaN,
        which sorts greatest, so it routes to the smallest topic id
        instead of failing the query with DIVIDE_BY_ZERO."""
        from hgraphstorage_spark.pipeline.similarity import topic_assign, topic_model
        from hgraphstorage_spark.pipeline.text import tfidf_apply

        train = spark.createDataFrame(
            [(1, "apple apple"), (2, "banana"), (3, "apple banana")], "doc_id long, text string"
        )
        idf, cents = topic_model(train, d=64)
        new = spark.createDataFrame([(9, "zebra")], "doc_id long, text string")
        assert [set(r.v) for r in tfidf_apply(new, idf, d=64).collect()] == [{0}]
        got = [(r.doc_id, r.topic) for r in topic_assign(new, idf, cents, d=64).collect()]
        assert got == [(9, min(r.topic for r in cents.collect()))]


def test_search_eval_reports_unretrieved_judged_query(spark):
    """A query with relevance judgments but ZERO ranking rows must appear
    with hits 0 / precision 0 / recall 0 / mrr 0 (trec_eval convention),
    not vanish — review-confirmed drop bug."""
    from hgraphstorage_spark.pipeline.search import search_eval

    ranking = spark.createDataFrame(
        [(1, 10, 1)], "query_id int, doc_id long, rank int"
    )
    qrels = spark.createDataFrame(
        [(1, 10, 1.0), (2, 77, 3.0)], "query_id int, doc_id long, rel double"
    )
    rows = {(r["query_id"], r["k"]): r for r in search_eval(ranking, qrels, ks=(1,)).collect()}
    assert set(q for q, _ in rows) == {1, 2}
    q2 = rows[(2, 1)]
    assert q2["n_rel"] == 1 and q2["hits"] == 0
    assert float(q2["precision"]) == 0.0 and float(q2["recall"]) == 0.0
    assert float(q2["mrr"]) == 0.0 and float(q2["ndcg"]) == 0.0


class TestSentenceSplit:
    def test_terminator_kept_and_collapsed(self, spark):
        from hgraphstorage_spark.pipeline.text import sentence_split

        docs = spark.createDataFrame(
            [(1, "Hello  world. How are you?  Fine!!! ok"), (2, "no terminator")],
            "doc_id long, text string",
        )
        got = [
            (r["doc_id"], r["sent_idx"], r["sentence"], r["n_tokens"])
            for r in sentence_split(docs).orderBy("doc_id", "sent_idx").collect()
        ]
        assert got == [
            (1, 0, "Hello world.", 2),
            (1, 1, "How are you?", 3),
            (1, 2, "Fine!!!", 1),
            (1, 3, "ok", 1),
            (2, 0, "no terminator", 2),
        ]

    def test_min_tokens_drops_fragments_keeps_index(self, spark):
        from hgraphstorage_spark.pipeline.text import sentence_split

        docs = spark.createDataFrame(
            [(1, "One two three. x. Four five.")], "doc_id long, text string"
        )
        got = [
            (r["sent_idx"], r["sentence"])
            for r in sentence_split(docs, min_tokens=2).orderBy("sent_idx").collect()
        ]
        # 'x.' drops; surviving sentences keep their pre-filter position
        assert got == [(0, "One two three."), (2, "Four five.")]

    def test_empty_and_whitespace_docs_yield_nothing(self, spark):
        from hgraphstorage_spark.pipeline.text import sentence_split

        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "...")], "doc_id long, text string"
        )
        assert sentence_split(docs).count() == 0

    def test_sentence_unit_boilerplate_dedup(self, spark):
        """unit='sentence': a sentence repeated >= min_count times
        corpus-wide vanishes from ALL documents (RefinedWeb granularity);
        unique sentences survive with order preserved."""
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        docs = spark.createDataFrame(
            [
                (1, "Cookie banner here. Real content one."),
                (2, "Cookie banner here. Real content two!"),
                (3, "Cookie banner here. Something else? Cookie banner here."),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r
            for r in boilerplate_dedup(docs, unit="sentence", min_count=3).collect()
        }
        assert got[1]["text_dedup"] == "Real content one."
        assert got[2]["text_dedup"] == "Real content two!"
        assert got[3]["text_dedup"] == "Something else?"
        assert (got[3]["n_units"], got[3]["n_kept"]) == (3, 1)

    def test_sentence_unit_keeps_sentence_less_docs(self, spark):
        """Empty / NULL / punctuation-only docs yield no sentences but
        must still appear in the output (the every-doc_id contract)."""
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        docs = spark.createDataFrame(
            [(1, "Real one."), (2, ""), (3, None), (4, "...")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r
            for r in boilerplate_dedup(docs, unit="sentence", min_count=2).collect()
        }
        assert set(got) == {1, 2, 3, 4}
        for d in (2, 3, 4):
            assert got[d]["text_dedup"] == "" and got[d]["n_units"] == 1

    def test_paragraph_unit_boilerplate_dedup(self, spark):
        """unit='paragraph': blank-line-separated blocks are the unit;
        a repeated footer paragraph vanishes corpus-wide, reassembly
        joins survivors with a blank line."""
        from hgraphstorage_spark.pipeline.text import boilerplate_dedup

        footer = "Subscribe to our\nnewsletter today."
        # doc 1 uses a TRIPLE newline: gap width must not change the
        # paragraph's identity (the split consumes the whole blank run)
        docs = spark.createDataFrame(
            [
                (1, f"Unique intro one.\n\n\n{footer}"),
                (2, f"{footer}\n \nUnique body two."),
                (3, f"Unique A.\n\t\nUnique B.\n\n{footer}"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r
            for r in boilerplate_dedup(docs, unit="paragraph", min_count=3).collect()
        }
        assert got[1]["text_dedup"] == "Unique intro one."
        assert got[2]["text_dedup"] == "Unique body two."
        assert got[3]["text_dedup"] == "Unique A.\n\nUnique B."
        assert (got[3]["n_units"], got[3]["n_kept"]) == (3, 2)


class TestZipfFit:
    def test_matches_numpy_ols_replica(self, spark):
        """Slope/intercept/R² equal a numpy replica of the same
        rounded-term OLS over the same deterministic rank order."""
        import numpy as np
        from hgraphstorage_spark.pipeline.text import zipf_fit

        # counts ~ 100/rank: near-perfect Zipf, slope ~ -1, high R²
        words = {"alpha": 100, "beta": 50, "gamma": 33, "delta": 25, "eps": 20}
        text = " ".join(w for w, n in words.items() for _ in range(n))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        row = zipf_fit(docs, top_k=10).collect()[0]
        assert row["n_tokens"] == 5
        counts = sorted(words.values(), reverse=True)
        x = np.array([round(float(np.log(r + 1)), 12) for r in range(5)])
        y = np.array([round(float(np.log(c)), 12) for c in counts])
        xy = np.array([round(float(a * b), 12) for a, b in zip(x, y)])
        x2 = np.array([round(float(a * a), 12) for a in x])
        y2 = np.array([round(float(b * b), 12) for b in y])
        k = 5.0
        cov = k * xy.sum() - x.sum() * y.sum()
        varx = k * x2.sum() - x.sum() ** 2
        vary = k * y2.sum() - y.sum() ** 2
        assert float(row["slope"]) == pytest.approx(cov / varx, abs=2e-6)
        assert float(row["r2"]) == pytest.approx(cov * cov / (varx * vary), abs=2e-6)
        assert -1.1 < float(row["slope"]) < -0.9 and float(row["r2"]) > 0.99

    def test_degenerate_single_token(self, spark):
        from hgraphstorage_spark.pipeline.text import zipf_fit

        docs = spark.createDataFrame([(1, "same same same")], "doc_id long, text string")
        row = zipf_fit(docs).collect()[0]
        assert row["n_tokens"] == 1
        assert row["slope"] is None and row["r2"] is None

    def test_all_equal_counts_r2_null_not_crash(self, spark):
        """Every token count equal -> vary = 0: slope is a well-defined
        0, R² is NULL (undefined), and nothing divides by zero."""
        from hgraphstorage_spark.pipeline.text import zipf_fit

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        )
        row = zipf_fit(docs).collect()[0]
        assert row["n_tokens"] == 4
        assert float(row["slope"]) == 0.0
        assert row["r2"] is None


class TestPhraseDetect:
    def test_collocation_outranks_frequent_pair(self, spark):
        """'new york' (always adjacent) must outscore 'the cat' (both
        words frequent but rarely adjacent); rare pairs below min_count
        never appear; hand-checked word2phrase arithmetic."""
        from hgraphstorage_spark.pipeline.text import phrase_detect

        docs = spark.createDataFrame(
            [(i, "new york is big and the cat sat on the mat") for i in range(6)]
            + [(100 + i, "the dog and a cat") for i in range(6)],
            "doc_id long, text string",
        )
        out = phrase_detect(docs, min_count=5, delta=1.0, top_k=10).collect()
        scores = {(r["word_a"], r["word_b"]): float(r["score"]) for r in out}
        assert ("new", "york") in scores
        assert scores[("new", "york")] == max(scores.values())
        # hand arithmetic: count(new york)=6, count(new)=6, count(york)=6,
        # N = 6*11 + 6*5 = 96 -> (6-1)*96/(6*6)
        assert scores[("new", "york")] == round((6 - 1.0) * 96 / 36, 6)
        assert all(r["n_pair"] >= 5 for r in out)

    def test_single_token_docs_count_toward_n(self, spark):
        from hgraphstorage_spark.pipeline.text import phrase_detect

        docs = spark.createDataFrame(
            [(i, "a b") for i in range(5)] + [(50, "solo")],
            "doc_id long, text string",
        )
        out = phrase_detect(docs, min_count=5, delta=0.0, top_k=5).collect()
        # N = 11 (the solo token counts), count(ab)=5, count(a)=count(b)=5
        assert len(out) == 1
        assert float(out[0]["score"]) == round(5.0 * 11 / 25, 6)


class TestReadability:
    def test_known_text(self, spark):
        """Hand-computed Flesch counts on a two-sentence text."""
        from hgraphstorage_spark.pipeline.text import readability_scores

        # "the cat sat." -> words the/cat/sat, 1 syllable each;
        # "a simple example here." -> a(1) simple(2: i, e-groups si-m-ple ->
        #   groups i,e = 2, ends 'le' so no silent-e subtraction)
        #   example(3: e,a,e -> ends 'le' keeps 3) here(2: e, e$ silent -> 1)
        docs = spark.createDataFrame(
            [(1, "The cat sat. A simple example here.")],
            "doc_id long, text string",
        )
        row = readability_scores(docs).collect()[0]
        assert row["n_sentences"] == 2
        assert row["n_words"] == 7
        # the1 cat1 sat1 a1 simple2 example3 here1 = 10
        assert row["n_syllables"] == 10
        wps, spw = 7 / 2, 10 / 7
        assert float(row["flesch_reading_ease"]) == round(
            206.835 - 1.015 * wps - 84.6 * spw, 4
        )
        assert float(row["fk_grade"]) == round(0.39 * wps + 11.8 * spw - 15.59, 4)

    def test_terminator_free_is_one_sentence(self, spark):
        from hgraphstorage_spark.pipeline.text import readability_scores

        docs = spark.createDataFrame(
            [(1, "no terminators here at all")], "doc_id long, text string"
        )
        row = readability_scores(docs).collect()[0]
        # the unterminated trailing fragment counts as one sentence
        assert row["n_sentences"] == 1 and row["n_words"] == 5
        assert row["flesch_reading_ease"] is not None

    def test_wordless_text_null_scores(self, spark):
        from hgraphstorage_spark.pipeline.text import readability_scores

        docs = spark.createDataFrame(
            [(1, "123 456 !!!"), (2, "")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in readability_scores(docs).collect()}
        for r in rows.values():
            assert r["n_words"] == 0
            assert r["flesch_reading_ease"] is None and r["fk_grade"] is None


class TestCorpusDiff:
    def test_classification(self, spark):
        from hgraphstorage_spark.pipeline.dedup import corpus_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(1, "a"), (2, "B2"), (4, "new"), (3, "")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
        # NULL and '' share the empty fingerprint: doc 3 reads as same
        assert got == {1: "same", 2: "changed", 3: "same", 4: "added"}

    def test_removed(self, spark):
        from hgraphstorage_spark.pipeline.dedup import corpus_diff

        old = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
        new = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
        assert got == {1: "same", 2: "removed"}


class TestCurriculumOrder:
    def test_stages_and_determinism(self, spark):
        from hgraphstorage_spark.pipeline.sampling import curriculum_order

        docs = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 13)], "doc_id long, s double"
        )
        out = curriculum_order(docs, "s", n_stages=3, epoch=1).collect()
        rows = sorted(out, key=lambda r: r["curriculum_rank"])
        # ranks are a permutation 1..12 and stages are monotone along it
        assert [r["curriculum_rank"] for r in rows] == list(range(1, 13))
        stages = [r["stage"] for r in rows]
        assert stages == sorted(stages) and set(stages) == {1, 2, 3}
        # easy-first: stage 1 holds the 4 lowest scores
        s1 = {r["doc_id"] for r in rows if r["stage"] == 1}
        assert s1 == {1, 2, 3, 4}
        # deterministic: identical on re-run
        again = sorted(
            curriculum_order(docs, "s", n_stages=3, epoch=1).collect(),
            key=lambda r: r["curriculum_rank"],
        )
        assert [(r["doc_id"], r["stage"]) for r in again] == [
            (r["doc_id"], r["stage"]) for r in rows
        ]
        # a different epoch re-permutes within stages but keeps membership
        e2 = curriculum_order(docs, "s", n_stages=3, epoch=2).collect()
        s1_e2 = {r["doc_id"] for r in e2 if r["stage"] == 1}
        assert s1_e2 == s1


class TestTimeRollup:
    def test_merge_law(self, spark):
        """merge(rollup(A), rollup(B)) == rollup(A ++ B) exactly."""
        from hgraphstorage_spark.functions.timeseries import rollup_merge, time_rollup
        from hgraphstorage_spark.streaming import load_events

        ev = load_events(spark, "/root/testdata/sf0.001")
        a = ev.filter(F.pmod("event_id", 2) == 0)
        b = ev.filter(F.pmod("event_id", 2) == 1)
        merged = bag(rollup_merge(time_rollup(a), time_rollup(b)))
        direct = bag(time_rollup(ev))
        assert merged == direct


class TestFIMTransform:
    def test_reassembly_is_lossless_and_deterministic(self, spark):
        """prefix+middle+suffix reassembles the original text for every
        transformed doc; rate=1 transforms all eligible docs; the split
        is identical across runs."""
        from hgraphstorage_spark.pipeline.text import fim_transform

        docs = spark.createDataFrame(
            [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(20)]
            + [(100, "ab")],  # below min_chars -> passthrough
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in fim_transform(docs, rate=1.0).collect()}
        originals = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert out[100]["fim_applied"] is False
        assert out[100]["text_fim"] == "ab"
        n_applied = 0
        for i, r in out.items():
            if not r["fim_applied"]:
                continue
            n_applied += 1
            t = r["text_fim"]
            assert t.startswith("<|fim_prefix|>")
            pre, rest = t[len("<|fim_prefix|>"):].split("<|fim_suffix|>", 1)
            suf, mid = rest.split("<|fim_middle|>", 1)
            assert pre + mid + suf == originals[i]
        assert n_applied == 20
        again = {r["doc_id"]: r["text_fim"] for r in fim_transform(docs, rate=1.0).collect()}
        assert again == {i: r["text_fim"] for i, r in out.items()}

    def test_rate_selects_a_hash_stable_subset(self, spark):
        from hgraphstorage_spark.pipeline.text import fim_transform

        docs = spark.createDataFrame(
            [(i, "some reasonably long document text here") for i in range(200)],
            "doc_id long, text string",
        )
        half = {r["doc_id"] for r in fim_transform(docs, rate=0.5).collect() if r["fim_applied"]}
        full = {r["doc_id"] for r in fim_transform(docs, rate=1.0).collect() if r["fim_applied"]}
        assert 60 <= len(half) <= 140 and len(full) == 200
        # monotone: the half-rate set is a subset of the full-rate set
        assert half <= full


def _ref_cosine_argmax(v, cents):
    """Plain-Python reference of the centroid assignment: the cosine as
    an ascending-dim float64 left fold, NaN greatest, ties to the first
    (smallest) cid. ``cents``: [(cid, cvec)] in cid order."""
    import math

    def fold(xs, ys):
        acc = 0.0
        for x, y in zip(xs, ys):
            acc = acc + x * y
        return acc

    best, best_key = None, None
    for cid, c in cents:
        den = math.sqrt(fold(v, v)) * math.sqrt(fold(c, c))
        cs = fold(v, c) / den if den else math.nan
        key = (1, 0.0) if math.isnan(cs) else (0, cs)
        if best_key is None or key > best_key:
            best, best_key = cid, key
    return best


class TestAssignToCentroidsArrow:
    def test_assign_to_centroids_arrow_equals_reference(self, spark):
        """The Arrow assignment reproduces a plain-Python cosine argmax
        row-for-row: same IEEE cosine bits (ascending-dim fold order),
        NaN-greatest ordering (zero vectors), first-max = smallest-cid ties."""
        from hgraphstorage_spark.pipeline.similarity import _assign_to_centroids

        def check(vf, cf, vec_col, cvec_col):
            cents = sorted((r[0], [float(x) for x in r[1]]) for r in cf.collect())
            zero = [0.0] * len(cents[0][1])  # a NULL vector counts as zero
            want = {
                r[0]: _ref_cosine_argmax([float(x) for x in r[1]] if r[1] else zero, cents)
                for r in vf.select("vec_id", vec_col).collect()
            }
            got = _assign_to_centroids(
                vf, cf.select("cid", F.col(cvec_col).alias("cvec")), "vec_id", vec_col, "list_id"
            )
            assert {r.vec_id: r.list_id for r in got.collect()} == want
            return want

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = (
            emb.orderBy(F.col("vec_id").asc()).limit(6)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        )
        assert len(check(emb, cents, "embedding", "cvec")) > 0

        # adversarial: exact duplicates of a centroid (csim tie across
        # duplicate centroids breaks to the smaller cid), zero-norm and NULL
        # vectors (NaN cosine to every centroid: NaN sorts greatest, ties to
        # the smallest cid) and d=1
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.0, 0.0]),   # exactly on centroids 10 and 11
            (5, [0.5, 0.5, 0.0, 0.0]),
            (6, None),
        ]
        cent = [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [1.0, 0.0, 0.0, 0.0]),  # duplicate centroid -> csim tie
            (12, [0.0, 1.0, 0.0, 0.0]),
        ]
        vf = spark.createDataFrame(rows, "vec_id long, v array<double>")
        cf = spark.createDataFrame(cent, "cid long, cvec array<double>")
        want = check(vf, cf, "v", "cvec")
        assert want[3] == want[4] == want[6] == 10
        v1 = spark.createDataFrame([(1, [2.0]), (2, [-3.0]), (3, [0.0])], "vec_id long, v array<double>")
        c1 = spark.createDataFrame([(7, [-1.0]), (8, [5.0]), (9, [4.0])], "cid long, cvec array<double>")
        assert check(v1, c1, "v", "cvec") == {1: 8, 2: 7, 3: 7}


def _ref_minhash(a, b, k):
    """Plain-Python k-permutation min over the per-shingle (a, b) base
    hashes; an empty or NULL array gives k NULLs."""
    from hgraphstorage_spark.pipeline.dedup import MINHASH_P

    if not a:
        return [None] * k
    return [min((x + i * y) % MINHASH_P for x, y in zip(a, b)) for i in range(k)]


class TestWithSignatureArrow:
    def test_with_signature_arrow_equals_fold(self, spark):
        """The Arrow k-permutation min equals the plain-Python fold over
        base hashes computed JVM-side with the same column expressions:
        every permutation value is integer arithmetic < 2^37 mod a 31-bit
        prime, so there is no float anywhere to diverge. Real corpus, both
        hash modes, plus empty/NULL shingle arrays."""
        from hgraphstorage_spark.pipeline.dedup import MINHASH_P, _with_signature, shingle_hashes

        P = F.lit(MINHASH_P)
        second = {
            "xxhash64": lambda h: F.pmod(F.xxhash64(h, F.lit(1)), P),
            "md5": lambda h: F.pmod(F.shiftright(h, 29), P),
        }

        def check(sh, k, mode):
            ab = sh.select(
                "doc_id",
                F.transform("sh", lambda h: F.pmod(h, P)).alias("a"),
                F.transform("sh", second[mode]).alias("b"),
            )
            want = {r.doc_id: _ref_minhash(r.a, r.b, k) for r in ab.collect()}
            got = {r.doc_id: r.sig for r in _with_signature(sh, k, mode).collect()}
            assert got == want and len(got) > 0
            return got

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for mode in ("xxhash64", "md5"):
            check(shingle_hashes(docs, "text", "doc_id", 5, mode), 16, mode)

        adv = spark.createDataFrame(
            [(1, [7, 11, 13]), (2, []), (3, None), (4, [0])],
            "doc_id long, sh array<long>",
        )
        by_id = check(adv, 8, "xxhash64")
        assert by_id[2] == [None] * 8 and by_id[3] == [None] * 8


class TestTfFrameArrow:
    def test_tf_frame_arrow_equals_fold(self, spark):
        """The Arrow bincount equals the plain-Python count over bucket
        ids computed JVM-side with the same expressions. Both hash modes,
        real corpus + adversarial rows (NULL / empty / whitespace-only text
        are excluded; d=1 collapses every token to one bucket)."""
        from hgraphstorage_spark.pipeline.dedup import md5_long
        from hgraphstorage_spark.pipeline.text import WS_RE, _tf_frame

        def check(docs, d, mode):
            bucket = {
                "xxhash64": lambda t: F.pmod(F.xxhash64(t), F.lit(d)),
                "md5": lambda t: md5_long(t) % d,
            }[mode]
            toks = F.filter(
                F.split(F.lower(F.trim(F.col("text"))), WS_RE), lambda t: F.length(t) > 0
            )
            want = {}
            for r in docs.select("doc_id", F.transform(toks, bucket).alias("bs")).collect():
                if r.bs:
                    tf = [0.0] * d
                    for b in r.bs:
                        tf[b] += 1.0
                    want[r.doc_id] = tf
            got = _tf_frame(docs, d, "text", "doc_id", mode, persist=False)
            assert {r.doc_id: r._tf for r in got.collect()} == want and want
            return want

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for mode in ("xxhash64", "md5"):
            check(docs, 64, mode)

        adv = spark.createDataFrame(
            [
                (1, "the quick brown fox the fox"),
                (2, None),
                (3, ""),
                (4, " \t\n"),
                (5, "x"),
                (6, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
            ],
            "doc_id long, text string",
        )
        for d in (1, 8):
            assert set(check(adv, d, "xxhash64")) == {1, 5, 6}  # NULL/empty/ws-only excluded


class TestArrowKernels:
    """The list-column boundary helpers on plain pyarrow arrays (no Spark)."""

    def test_sliced_array_reads_its_own_rows(self):
        import numpy as np
        import pyarrow as pa

        from hgraphstorage_spark.pipeline.kernels import list_matrix, ragged

        parent = pa.array([[1, 2], [3, 4], [5, 6], [7, 8]], pa.list_(pa.int64()))
        sl = parent.slice(2)
        assert sl.offset == 2
        assert list_matrix(sl, dtype=np.int64).tolist() == [[5, 6], [7, 8]]
        flat, lens = ragged(sl)
        assert flat.tolist() == [5, 6, 7, 8] and lens.tolist() == [2, 2]
        assert list_matrix(parent.slice(1, 2), dims=1).tolist() == [[3.0], [5.0]]

    def test_null_and_empty_rows(self):
        import numpy as np
        import pyarrow as pa

        from hgraphstorage_spark.pipeline.kernels import list_matrix, matrix_list, ragged

        arr = pa.array([[1.0, 2.0], None, [3.0, 4.0]], pa.list_(pa.float64()))
        assert list_matrix(arr).tolist() == [[1.0, 2.0], [0.0, 0.0], [3.0, 4.0]]
        flat, lens = ragged(pa.array([[1], [], None, [2, 3]], pa.list_(pa.int64())))
        assert flat.tolist() == [1, 2, 3] and lens.tolist() == [1, 0, 0, 2]
        back = matrix_list(list_matrix(arr), null_rows=np.array([False, True, False]))
        assert back.to_pylist() == [[1.0, 2.0], [None, None], [3.0, 4.0]]

    def test_ragged_rows_raise_without_dims(self):
        import pyarrow as pa

        from hgraphstorage_spark.pipeline.kernels import list_matrix

        arr = pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float64()))
        with pytest.raises(ValueError):
            list_matrix(arr)
        with pytest.raises(ValueError):
            list_matrix(arr, dims=2)
        assert list_matrix(arr, dims=1).tolist() == [[1.0], [3.0]]
