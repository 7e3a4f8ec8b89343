"""Semantics tests for custom operators beyond the oracle harness:
as-of join directions/edges, LSH recall vs brute force, multimodal
plumbing, UDF dispatch helpers, timeparse translation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pandas_etl_spark.functions import dedup as dd
from pandas_etl_spark.functions import similarity as sim
from pandas_etl_spark.functions import multimodal as mm
from pandas_etl_spark.functions.timeparse import grouper_bucket, strptime_to_java
from pandas_etl_spark.operators import asof_join


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), 100.0),
            (1, ts("2024-01-01T10:05:00"), 101.0),
            (2, ts("2024-01-01T10:01:00"), 50.0),
            (3, ts("2024-01-01T10:00:00"), 7.0),  # no quotes at all
        ],
        "sym int, ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            (1, ts("2024-01-01T09:59:00"), 99.5),
            (1, ts("2024-01-01T10:05:00"), 100.9),  # equal-ts: should match backward
            (1, ts("2024-01-01T10:07:00"), 101.5),
            (2, ts("2024-01-01T10:02:00"), 49.9),  # only after the trade
        ],
        "sym int, ts timestamp, quote double",
    )
    return trades, quotes


class TestAsofJoin:
    def test_backward(self, trades_quotes):
        trades, quotes = trades_quotes
        out = asof_join(trades, quotes, on="ts", by="sym").orderBy("sym", "ts")
        rows = out.collect()
        assert [r.quote for r in rows] == [99.5, 100.9, None, None]
        assert rows[1].ts_right == ts("2024-01-01T10:05:00")  # equal-ts matched

    def test_forward(self, trades_quotes):
        trades, quotes = trades_quotes
        out = asof_join(trades, quotes, on="ts", by="sym", direction="forward").orderBy(
            "sym", "ts"
        )
        rows = out.collect()
        assert [r.quote for r in rows] == [100.9, 100.9, 49.9, None]

    def test_all_left_rows_survive(self, trades_quotes):
        trades, quotes = trades_quotes
        assert asof_join(trades, quotes, on="ts", by="sym").count() == trades.count()


class TestLshRecall:
    def test_minhash_lsh_finds_exact_neardups(self, spark, sf_dir):
        """Every high-Jaccard pair from the exact n-gram computation must
        be recovered by MinHash-LSH at a lower threshold (recall check)."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        exact = {
            (r.id_a, r.id_b)
            for r in dd.ngram_jaccard_pairs(d, threshold=0.8, max_df=10**9).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in dd.minhash_lsh_pairs(d, threshold=0.5).collect()
        }
        missed = exact - lsh
        assert not missed, f"LSH missed {len(missed)} of {len(exact)} exact pairs"

    def test_ann_lsh_recall_vs_bruteforce(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = sim.cosine_topk(emb, queries, k=3).collect()
        approx = {
            (r.query_id, r.neighbor_id)
            for r in sim.ann_lsh_topk(emb, queries, k=3, dim=64, bits=4).collect()
        }
        exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
        # LSH with few bits keeps most true neighbors in-bucket
        recall = len(exact_pairs & approx) / len(exact_pairs)
        assert recall >= 0.5, f"recall {recall}"

    def test_ann_ivf_recall_vs_bruteforce(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact_pairs = {
            (r.query_id, r.neighbor_id)
            for r in sim.cosine_topk(emb, queries, k=3).collect()
        }
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in sim.ann_ivf_topk(emb, queries, k=3, n_cells=8, nprobe=4).collect()
        }
        recall = len(exact_pairs & ivf) / len(exact_pairs)
        assert recall >= 0.5, f"recall {recall}"

    def test_ann_pq_recall_vs_bruteforce(self, spark, sf_dir):
        """ADC shortlist + exact re-rank must recover most true cosine
        neighbors; with a generous rerank_factor the shortlist almost
        always contains the true top-k."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact_pairs = {
            (r.query_id, r.neighbor_id)
            for r in sim.cosine_topk(emb, queries, k=3).collect()
        }
        pq = sim.ann_pq_topk(
            emb, queries, k=3, m=8, codes_k=32, rerank_factor=16
        ).collect()
        pq_pairs = {(r.query_id, r.neighbor_id) for r in pq}
        recall = len(exact_pairs & pq_pairs) / len(exact_pairs)
        assert recall >= 0.5, f"recall {recall}"
        # schema parity with the other ANN paths + exact per-query k
        by_q: dict = {}
        for r in pq:
            by_q.setdefault(r.query_id, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)

    def test_semantic_dedup_invariants(self, spark, sf_dir):
        """SemDeDup keep/drop invariants on the clustered path:
        (a) no surviving within-cell pair at/above the threshold;
        (b) every dropped id had a lower-id same-cell neighbor at/above
        the threshold (the deterministic keep-lowest-id rule)."""
        import itertools
        import math

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t = 0.4
        kept = sim.semantic_dedup(emb, threshold=t, n_cells=8).collect()
        cells = {r.id: r.cell for r in kept}
        vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        for ia, ib in itertools.combinations(sorted(cells), 2):
            if cells[ia] == cells[ib]:
                assert round(cos(vecs[ia], vecs[ib]), 6) < t, (ia, ib)
        # reconstruct cell of dropped ids by re-running assignment-only
        # (n_cells=1 over the same ids is exact; here check via survivors)
        dropped = set(vecs) - set(cells)
        all_cells = {
            r.id: r.cell
            for r in sim.semantic_dedup(emb, threshold=2.0, n_cells=8).collect()
        }  # threshold 2.0 → nothing dropped → full assignment
        for d_ in dropped:
            c = all_cells[d_]
            assert any(
                o < d_ and all_cells[o] == c and round(cos(vecs[o], vecs[d_]), 6) >= t
                for o in vecs
            ), d_

    def test_semantic_dedup_single_cell_is_bruteforce(self, spark, sf_dir):
        import math

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("vec_id") < 100
        )
        t = 0.4
        got = sorted(r.id for r in sim.semantic_dedup(emb, threshold=t, n_cells=1).collect())
        vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (
                math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
            )

        expect = sorted(
            i
            for i in vecs
            if not any(
                j < i and round(cos(vecs[j], vecs[i]), 6) >= t for j in vecs
            )
        )
        assert got == expect

    def test_quantize_int8_error_bounds(self, spark, sf_dir):
        """Every per-vector max error is ≤ half the widest dimension's
        quantization step; constant dimensions contribute zero error."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = sim.quantize_int8_error(emb).collect()
        assert len(out) == emb.count()
        # widest per-dim range bound
        import pyspark.sql.functions as SF

        dims = (
            emb.select(SF.posexplode("embedding").alias("pos", "x"))
            .groupBy("pos")
            .agg(
                (SF.max(SF.col("x").cast("double")) - SF.min(SF.col("x").cast("double"))).alias("rng")
            )
            .agg(SF.max("rng"))
            .first()[0]
        )
        half_step = dims / 255.0 / 2.0
        for r in out:
            assert 0.0 <= r.max_abs_err <= half_step + 1e-9, r
            assert 0.0 <= r.mse <= (half_step**2) + 1e-12, r

    def test_pq_encode_invariants(self, spark, sf_dir):
        """PQ codes are m ints in [0, k); reconstruction error is
        non-negative and improves monotonically with codebook size
        (k=16 beats the k=1 'subspace mean' quantizer on average)."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        fine = sim.pq_encode(emb, m=8, k=16).collect()
        assert len(fine) == emb.count()
        for r in fine:
            assert len(r.codes) == 8
            assert all(0 <= c < 16 for c in r.codes), r
            assert r.recon_mse >= 0.0
        coarse = {r.id: r.recon_mse for r in sim.pq_encode(emb, m=8, k=1).collect()}
        mean_fine = sum(r.recon_mse for r in fine) / len(fine)
        mean_coarse = sum(coarse.values()) / len(coarse)
        assert mean_fine <= mean_coarse + 1e-12

    def test_pq_encode_rejects_indivisible_subspaces(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
        )
        with pytest.raises(ValueError, match="not divisible"):
            sim.pq_encode(emb, m=2)

    def test_quantize_constant_vector_zero_error(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<float>",
        )
        out = sim.quantize_int8_error(emb).collect()
        assert all(r.max_abs_err == 0.0 and r.mse == 0.0 for r in out)

    def test_simhash_identical_docs_zero_distance(self, spark):
        d = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the  QUICK brown fox "), (3, "completely different words here")],
            "doc_id long, text string",
        )
        pairs = dd.simhash_pairs(d, max_hamming=0).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


class TestMultimodal:
    def test_meta_and_decode_plumbing(self, spark):
        payloads = [
            (1, bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"jpegdata"),
            (2, bytes([0x89, 0x50, 0x4E, 0x47]) + b"pngdata"),
            (3, b"plain bytes"),
            (4, None),
        ]
        df = spark.createDataFrame(payloads, "doc_id long, payload binary")
        meta = {r.doc_id: r for r in mm.attach_binary_meta(df).collect()}
        assert meta[1].sniffed_mime == "image/jpeg"
        assert meta[2].sniffed_mime == "image/png"
        assert meta[3].sniffed_mime == "application/octet-stream"
        assert meta[1].payload_bytes == 12

        decoded = {r.doc_id: r for r in mm.decode_images(df).collect()}
        assert decoded[1].ok and decoded[1].width >= 16
        assert not decoded[4].ok and decoded[4].width is None
        # deterministic fake: same payload → same dims
        again = {r.doc_id: r for r in mm.decode_images(df).collect()}
        assert decoded[1].width == again[1].width


class TestCurateCache:
    def test_persist_handle_and_release(self, spark, sf_dir):
        from pandas_etl_spark.functions.curate import curate_corpus, release_cache

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = curate_corpus(d, persist_intermediate=True)
        assert out.curate_cache.storageLevel.useMemory  # persisted on opt-in
        assert out.count() > 0
        release_cache(out)
        assert not out.curate_cache.storageLevel.useMemory  # released

        off = curate_corpus(d)  # default: recompute beats persist (measured)
        assert getattr(off, "curate_cache", None) is None
        release_cache(off)  # no handle → no-op, no error
        # identical survivors either way
        assert sorted(r.doc_id for r in off.select("doc_id").collect()) == sorted(
            r.doc_id for r in out.select("doc_id").collect()
        )


class TestTimeparse:
    def test_strptime_translation(self):
        assert strptime_to_java("%d/%m/%y") == "dd/MM/yy"
        assert strptime_to_java("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
        with pytest.raises(ValueError):
            strptime_to_java("%Q")

    def test_week_anchor_buckets(self, spark):
        df = spark.createDataFrame(
            [
                (ts("2024-01-01T12:00:00"),),  # Monday
                (ts("2024-01-02T12:00:00"),),  # Tuesday
                (ts("2024-01-08T12:00:00"),),  # next Monday
            ],
            "t timestamp",
        )
        out = df.select(grouper_bucket("t", "W-MON").alias("b")).collect()
        # W-MON: weeks run Tue..Mon; Mon Jan 1 belongs to the week started
        # Tue Dec 26; Tue Jan 2 and Mon Jan 8 share the week started Jan 2
        assert out[0].b == ts("2023-12-26T00:00:00")
        assert out[1].b == ts("2024-01-02T00:00:00")
        assert out[2].b == ts("2024-01-02T00:00:00")

    def test_parse_dates_ingestion(self, spark, tmp_path):
        p = tmp_path / "d.csv"
        p.write_text("id,date_column\n1,07/03/24\n2,25/12/23\n")
        from pandas_etl_spark.sources import read_csv

        df = read_csv(
            spark, str(p), parse_dates={"date_column": {"format": "%d/%m/%y"}}
        )
        rows = {r.id: r.date_column for r in df.collect()}
        assert rows[1] == ts("2024-03-07T00:00:00")
        assert rows[2] == ts("2023-12-25T00:00:00")


class TestSamplingChunkingProfile:
    def test_hash_sample_partition_invariant(self, spark):
        """The sample's row membership must not depend on partitioning —
        the property rand(seed)/TABLESAMPLE lack."""
        from pandas_etl_spark.operators.sampling import hash_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        a = {r.k for r in hash_sample(df, "k", 0.2).collect()}
        b = {r.k for r in hash_sample(df.repartition(17), "k", 0.2).collect()}
        assert a == b
        assert 0.1 < len(a) / 2000 < 0.3

    def test_hash_sample_by_rates(self, spark):
        from pandas_etl_spark.operators.sampling import hash_sample_by

        df = spark.createDataFrame(
            [(i, "en" if i % 2 else "de") for i in range(2000)], "k long, lang string"
        )
        out = hash_sample_by(df, "k", "lang", {"en": 1.0, "de": 0.0}).collect()
        assert all(r.lang == "en" for r in out)
        assert len(out) == 1000

    def test_chunk_documents_reassembles(self, spark):
        from pandas_etl_spark.functions.text import chunk_documents

        df = spark.createDataFrame(
            [(1, "abcdefghij" * 7), (2, "xy")], "doc_id long, text string"
        )
        out = chunk_documents(df, chunk_size=30, overlap=10).collect()
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
        # short doc → one chunk, unchanged
        assert by_doc[2] == [(0, "xy")]
        chunks = [t for _, t in sorted(by_doc[1])]
        # consecutive chunks agree on the 10-char overlap
        for prev, nxt in zip(chunks, chunks[1:]):
            assert prev[-10:] == nxt[:10]
        # stitching non-overlapping parts reassembles the document
        text = chunks[0] + "".join(c[10:] for c in chunks[1:])
        assert text == "abcdefghij" * 7

    def test_profile_columns_counts(self, spark):
        from pandas_etl_spark.operators.profile import profile_columns

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "k long, v string"
        )
        got = {r.col: (r.n_rows, r.n_nulls, r.n_distinct) for r in profile_columns(df).collect()}
        assert got == {"k": (4, 0, 4), "v": (4, 1, 2)}


class TestFrequentTokens:
    def test_matches_exact_groupby(self, spark):
        from pandas_etl_spark.operators.frequent import frequent_tokens

        # Zipf-ish synthetic: token i appears ~1000/i times, spread so
        # no partition sees a token's full count
        rows = [(f"w{i}",) for i in range(1, 60) for _ in range(1000 // i)]
        toks = spark.createDataFrame(rows, "word string").repartition(16)
        theta = 0.02
        got = {r.word: r.n for r in frequent_tokens(toks, "word", theta).collect()}
        import math

        total = len(rows)
        thr = math.ceil(theta * total)
        exact = {
            r.word: r.n
            for r in toks.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= thr)
            .collect()
        }
        assert got == exact and len(exact) > 0

    def test_empty_input(self, spark):
        from pandas_etl_spark.operators.frequent import frequent_tokens

        toks = spark.createDataFrame([], "word string")
        assert frequent_tokens(toks, "word", 0.01).count() == 0


class TestMultimodalPlumbing:
    def test_resize_dims_aspect_preserving(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\xff\xd8\xff\xe0" + b"x" * 100))],
            "doc_id long, payload binary",
        )
        row = mm.resize_images(df, max_side=64).collect()[0]
        d = mm.decode_image_stub(bytes(df.collect()[0].payload))
        scale = min(1.0, 64 / max(d["width"], d["height"]))
        assert (row.width, row.height) == (
            int(d["width"] * scale),
            int(d["height"] * scale),
        )
        assert max(row.width, row.height) <= 64
        assert bytes(row.payload) == bytes(df.collect()[0].payload)

    def test_audio_decode_stub_edges(self, spark):
        df = spark.createDataFrame(
            [
                (1, bytearray(b"RIFF" + bytes([10, 20, 30, 40]))),
                (2, bytearray(b"RIF")),  # shorter than the header
                (3, None),
            ],
            "doc_id long, payload binary",
        )
        rows = {r.doc_id: r for r in mm.decode_audio(df).collect()}
        assert rows[1].ok and rows[1].n_samples == 4
        assert rows[1].mean_amplitude == 25.0  # (10+20+30+40)/4
        assert rows[1].duration_ms == 4 * 1000 // 8000
        assert not rows[2].ok and rows[2].n_samples == 0
        assert rows[2].mean_amplitude is None
        assert not rows[3].ok and rows[3].mean_amplitude is None

    def test_byte_features_match_numpy(self, spark):
        import numpy as np

        payload = bytes(range(256)) * 3
        df = spark.createDataFrame(
            [(1, bytearray(payload)), (2, None)], "doc_id long, payload binary"
        )
        got = {r.doc_id: r.features for r in mm.extract_byte_features(df).collect()}
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=16).astype("float64")
        exp = (hist / hist.sum()).tolist()
        assert got[1] == exp
        assert abs(sum(got[1]) - 1.0) < 1e-9
        assert got[2] == [0.0] * 16


class TestStockMlLshAgreement:
    def test_brp_lsh_agrees_with_bruteforce_cosine(self, spark, sf_dir):
        """Cross-validation against stock pyspark.ml: on L2-normalized
        vectors, BucketedRandomProjectionLSH (euclidean) nearest
        neighbors must largely agree with our brute-force cosine top-k —
        euclidean and cosine orderings coincide on the unit sphere."""
        from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
        from pyspark.ml.functions import array_to_vector

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
        )
        normed = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(emb)
        model = BucketedRandomProjectionLSH(
            inputCol="vec", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=7
        ).fit(normed)

        queries = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("vec_id") < 3
        ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        exact = sim.cosine_topk(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), queries, k=3
        ).collect()
        exact_by_q: dict[int, set] = {}
        for r in exact:
            exact_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)

        hits = total = 0
        for qid, true_nbrs in exact_by_q.items():
            key = normed.filter(F.col("vec_id") == qid).select("vec").collect()[0].vec
            # k=5: skip self + slack, then compare against our top-3
            nbrs = {
                r.vec_id
                for r in model.approxNearestNeighbors(normed, key, 5).collect()
                if r.vec_id != qid
            }
            hits += len(true_nbrs & nbrs)
            total += len(true_nbrs)
        assert hits / total >= 0.6, f"ml-vs-ours agreement {hits}/{total}"


class TestPointerBlobs:
    def test_pointer_payloads_read_byte_ranges(self, spark, tmp_path):
        """Out-of-row blob fetch: pointer (path, offset, length) rows
        materialize exactly their byte ranges."""
        blobs = [b"first-blob", b"second!!", b"third-payload"]
        blob_file = tmp_path / "store.bin"
        offsets, buf = [], b""
        for b in blobs:
            offsets.append(len(buf))
            buf += b
        blob_file.write_bytes(buf)
        rows = [
            (i, {"path": str(blob_file), "offset": offsets[i], "length": len(blobs[i])})
            for i in range(3)
        ] + [(99, None)]
        df = spark.createDataFrame(
            rows, "doc_id long, blob struct<path:string,offset:bigint,length:bigint>"
        )
        got = {r.doc_id: r.payload for r in mm.read_pointer_payloads(df).collect()}
        assert {k: bytes(v) if v is not None else None for k, v in got.items()} == {
            0: b"first-blob",
            1: b"second!!",
            2: b"third-payload",
            99: None,
        }
        # original columns survive alongside the payload
        assert set(mm.read_pointer_payloads(df).columns) == {"doc_id", "blob", "payload"}


class TestSimhashBlockingExact:
    """Pigeonhole blocking must find EVERY pair within the requested
    radius (VERDICT r2 #7) — checked against brute force on a random
    clustered signature set."""

    def _sigs(self):
        import random

        rnd = random.Random(7)
        sigs = []
        for _ in range(30):
            base = rnd.getrandbits(64)
            sigs.append(base)
            for _ in range(3):
                s = base
                for b in rnd.sample(range(64), rnd.randint(0, 12)):
                    s ^= 1 << b
                sigs.append(s)
        return sigs

    def _brute(self, sigs, h):
        exp = {}
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                d = bin(sigs[i] ^ sigs[j]).count("1")
                if d <= h:
                    exp[(i, j)] = d
        return exp

    @pytest.mark.parametrize("h", [0, 3, 8, 12])
    def test_all_pairs_within_radius_found(self, spark, h):
        from pandas_etl_spark.functions.dedup import simhash_neighbors

        sigs = self._sigs()
        signed = [s - (1 << 64) if s >= (1 << 63) else s for s in sigs]
        df = spark.createDataFrame(list(enumerate(signed)), "id long, sim long")
        got = {(r.id_a, r.id_b): r.hamming for r in simhash_neighbors(df, h).collect()}
        assert got == self._brute(sigs, h)


class TestConnectedComponents:
    def test_clusters_match_union_find(self, spark):
        from pandas_etl_spark.functions.dedup import connected_components

        # two chains, one triangle, plus singletons from the node universe
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
        nodes = list(range(1, 5)) + [10, 11, 20, 21, 22, 30, 31]
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        exp = {n: find(n) for n in nodes}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        universe = spark.createDataFrame([(n,) for n in nodes], "id long")
        got = {
            r.id: r.cluster_id
            for r in connected_components(pairs, nodes=universe).collect()
        }
        assert got == exp

    def test_pairs_only_universe(self, spark):
        from pandas_etl_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame([(5, 6), (6, 7)], "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == {5: 5, 6: 5, 7: 5}

    def test_non_convergence_raises(self, spark):
        from pandas_etl_spark.functions.dedup import connected_components

        # a 6-node path needs ~5 propagation rounds; cap at 1 → raise
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6, 0, -1)], "id_a long, id_b long"
        )
        import pytest as _pytest

        for algorithm in ("star", "label"):
            with _pytest.raises(RuntimeError, match="no convergence"):
                connected_components(pairs, max_iters=1, algorithm=algorithm)

    def test_star_equals_label_propagation_random_graphs(self, spark):
        """Property (VERDICT r3 #6): the O(log n) star contraction and the
        O(diameter) label propagation produce the IDENTICAL labeling on
        random graphs of mixed shape (chains, cliques, singletons)."""
        import random

        from pandas_etl_spark.functions.dedup import connected_components

        for seed in (7, 42, 1234):
            rng = random.Random(seed)
            n = 60
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(20, 50))
            ]
            edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            universe = spark.createDataFrame([(i,) for i in range(n)], "id long")
            star = {
                r.id: r.cluster_id
                for r in connected_components(
                    pairs, nodes=universe, algorithm="star"
                ).collect()
            }
            label = {
                r.id: r.cluster_id
                for r in connected_components(
                    pairs, nodes=universe, algorithm="label", max_iters=n
                ).collect()
            }
            assert star == label, f"seed {seed}"

    def test_star_rounds_logarithmic_on_chain(self, spark):
        """A 64-node chain has diameter 63 — label propagation needs ~63
        rounds, star contraction must stay O(log n). Assert both the
        labeling (everything reaches the chain minimum) and the round
        bound that makes the algorithm safe on 100 TB pair graphs."""
        from pandas_etl_spark.functions.dedup import connected_components

        n = 64
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        res = connected_components(pairs, algorithm="star", max_iters=14)
        got = {r.id: r.cluster_id for r in res.collect()}
        assert got == {i: 0 for i in range(n)}
        assert res.cc_rounds <= 14, res.cc_rounds


class TestUpsert:
    def test_matched_takes_update_row_including_nulls(self, spark):
        from pandas_etl_spark.operators.upsert import upsert

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, v double"
        )
        upd = spark.createDataFrame(
            [(2, None, 99.0), (3, "c", 30.0)], "id long, name string, v double"
        )
        got = {r.id: (r.name, r.v) for r in upsert(base, upd, ["id"]).collect()}
        # MERGE 'UPDATE SET *': the update's NULL name WINS (not coalesced)
        assert got == {1: ("a", 10.0), 2: (None, 99.0), 3: ("c", 30.0)}

    def test_schema_mismatch_and_null_key_raise(self, spark):
        from pandas_etl_spark.operators.upsert import upsert

        base = spark.createDataFrame([(1, "a")], "id long, name string")
        bad = spark.createDataFrame([(1, 2.0)], "id long, other double")
        with pytest.raises(ValueError, match="schemas differ"):
            upsert(base, bad, ["id"])
        nullkey = spark.createDataFrame([(None, "x")], "id long, name string")
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        with pytest.raises((Py4JJavaError, SparkRuntimeException), match="null key"):
            upsert(base, nullkey, ["id"]).collect()


class TestQualityChecks:
    def test_null_counts_as_violation(self, spark):
        from pandas_etl_spark.operators.quality import check_rules

        df = spark.createDataFrame(
            [(1, 10.0), (2, -5.0), (3, None)], "id long, v double"
        )
        got = {
            r.rule: (r.n_rows, r.n_violations, r.passed)
            for r in check_rules(
                df, [("v_positive", "v > 0"), ("id_present", "id IS NOT NULL")]
            ).collect()
        }
        # v > 0 is NULL for id=3 → violation (3VL must not pass unknowns)
        assert got["v_positive"] == (3, 2, False)
        assert got["id_present"] == (3, 0, True)

    def test_empty_rules_raise(self, spark):
        from pandas_etl_spark.operators.quality import check_rules

        with pytest.raises(ValueError, match="at least one"):
            check_rules(spark.range(1), [])


class TestUdtf:
    def test_word_ngrams_matches_catalyst_expression(self, spark):
        """The Python UDTF (slow path, API parity) and a pure-Catalyst
        sequence/transform n-gram expansion must produce identical rows."""
        from pyspark.sql import functions as F

        from pandas_etl_spark.functions.udtf import register_udtfs

        register_udtfs(spark)
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "x y"), (3, "solo"), (4, None), (5, "p  q")],
            "id long, text string",
        )
        df.createOrReplaceTempView("udtf_parity_docs")
        got = {
            (r.id, r.pos, r.ngram)
            for r in spark.sql(
                "SELECT id, g.pos, g.ngram FROM udtf_parity_docs, "
                "LATERAL word_ngrams(text, 2) g"
            ).collect()
        }
        words = F.split("text", " ", -1)
        # sequence(1, 0) DESCENDS in Spark — gate short docs to an empty
        # array instead of relying on an empty range
        idx = F.when(
            F.size(words) >= 2, F.sequence(F.lit(1), F.size(words) - 1)
        ).otherwise(F.array().cast("array<int>"))
        catalyst = (
            df.select(
                "id",
                F.explode(
                    F.transform(
                        idx,
                        lambda i: F.struct(
                            i.alias("pos"),
                            F.concat_ws(
                                " ",
                                F.element_at(words, i),
                                F.element_at(words, i + 1),
                            ).alias("ngram"),
                        ),
                    )
                ).alias("g"),
            )
            .select("id", "g.pos", "g.ngram")
        )
        exp = {(r.id, r.pos, r.ngram) for r in catalyst.collect()}
        assert got == exp and (1, 1, "a b") in got
        # doubled space → empty token preserved on both paths
        assert (5, 1, "p ") in got

    def test_udtf_null_and_short_inputs(self, spark):
        # the @udtf decorator wraps the class — unit-test the handler class
        from pandas_etl_spark.functions.udtf import WordNgrams

        impl = WordNgrams.func()
        assert list(impl.eval("a b", 3)) == []
        assert list(impl.eval(None, 2)) == []
        assert list(impl.eval("a b c", 0)) == []


class TestIncrementalDedup:
    @staticmethod
    def _py_reference(new_rows, corpus_rows, k=3, threshold=0.5, max_df=3):
        """Pure-Python oracle mirroring incremental_dedup semantics."""
        import hashlib
        import re

        def norm(t):
            return re.sub(r"\s+", " ", t.strip().lower())

        def shingles(t):
            t = norm(t)
            n = max(len(t) - k + 1, 1)
            return {t[i : i + k] for i in range(n)}

        corp_sh = {i: shingles(t) for i, t in corpus_rows}
        df_count = {}
        for s in corp_sh.values():
            for g in s:
                df_count[g] = df_count.get(g, 0) + 1
        stop = {g for g, c in df_count.items() if c > max_df}
        corp_fp = {hashlib.md5(norm(t).encode()).hexdigest() for _, t in corpus_rows}
        out = {}
        for i, t in new_rows:
            exact = hashlib.md5(norm(t).encode()).hexdigest() in corp_fp
            mine = shingles(t) - stop
            near = None
            for j, cs in sorted(corp_sh.items()):
                cs_r = cs - stop
                shared = len(mine & cs_r)
                denom = len(mine) + len(cs_r) - shared
                if denom > 0 and shared / denom >= threshold:
                    near = j
                    break
            status = "exact" if exact else ("near" if near is not None else "novel")
            out[i] = (exact, near, status)
        return out

    def test_matches_python_reference(self, spark):
        from pandas_etl_spark.functions.dedup import incremental_dedup

        corpus_rows = [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "pack my box with five dozen liquor jugs"),
            (102, "how vexingly quick daft zebras jump"),
            (103, "the quick brown fox jumps over the lazy dog"),  # dup in corpus
            (104, "aaaa aaaa aaaa aaaa aaaa"),  # hot shingles
            (105, "aaaa aaaa aaaa aaaa aaab"),
            (106, "aaaa aaaa aaaa aaaa aaac"),
            (107, "aaaa aaaa aaaa aaaa aaad"),
        ]
        new_rows = [
            (1, "THE QUICK  brown fox jumps over the lazy dog"),  # exact after norm
            (2, "the quick brown fox jumps over the lazy cat"),  # near
            (3, "completely unrelated text about spark pipelines"),  # novel
            (4, "aaaa aaaa aaaa aaaa aaae"),  # only hot shingles shared
        ]
        exp = self._py_reference(new_rows, corpus_rows)
        new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
        corp_df = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.exact_dup, r.near_dup_of, r.status)
            for r in incremental_dedup(
                new_df, corp_df, k=3, threshold=0.5, max_df=3
            ).collect()
        }
        assert got == exp, (got, exp)
        assert got[1][2] == "exact" and got[3][2] == "novel"


class TestPrefixFilterEquivalence:
    """ngram_jaccard_pairs_prefix must return EXACTLY the bucket plan's
    rows (prefix filtering is lossless for the threshold) — on real
    documents, on a perturbed-duplicate corpus, across thresholds, and
    with the df cap disabled."""

    @pytest.mark.parametrize("threshold", [0.5, 0.7, 0.9])
    def test_matches_bucket_plan_on_documents(self, spark, sf_dir, threshold):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        old = dd.ngram_jaccard_pairs(d, threshold=threshold, max_df=50)
        new = dd.ngram_jaccard_pairs_prefix(d, threshold=threshold, max_df=50)
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0

    def test_matches_without_df_cap(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight!"),
            (3, "a completely different sentence about spark plans"),
            (4, "a completely different sentence about spark planning"),
            (5, "nothing in common with anything else here at all"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        old = dd.ngram_jaccard_pairs(d, threshold=0.6, max_df=None)
        new = dd.ngram_jaccard_pairs_prefix(d, threshold=0.6, max_df=None)
        got_old = {(r.id_a, r.id_b) for r in old.collect()}
        got_new = {(r.id_a, r.id_b) for r in new.collect()}
        assert got_old == got_new
        assert (1, 2) in got_new and (3, 4) in got_new


class TestDedupIndex:
    """build_dedup_index amortizes the corpus side of incremental dedup:
    classification through the index must equal direct classification,
    and appended docs must be visible to the next batch."""

    def test_indexed_equals_direct(self, spark, sf_dir, tmp_path):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = d.filter(F.col("doc_id") % 2 == 0)
        batch = d.filter(F.col("doc_id") % 2 == 1)
        idx = str(tmp_path / "idx")
        dd.build_dedup_index(corpus, idx, k=5, max_df=50)
        direct = dd.incremental_dedup(batch, corpus, k=5, threshold=0.5, max_df=50)
        via_idx = dd.incremental_dedup_indexed(batch, idx, threshold=0.5)
        assert direct.exceptAll(via_idx).count() == 0
        assert via_idx.exceptAll(direct).count() == 0

    def test_append_makes_batch_exact_on_replay(self, spark, sf_dir, tmp_path):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = d.filter(F.col("doc_id") % 2 == 0)
        batch = d.filter(F.col("doc_id") % 2 == 1)
        idx = str(tmp_path / "idx")
        dd.build_dedup_index(corpus, idx, k=5, max_df=50)
        cls = dd.incremental_dedup_indexed(batch, idx, threshold=0.5)
        # materialize the novel slice BEFORE appending (production shape:
        # the batch lands on disk first; a lazy frame whose plan embeds
        # the pre-append index read must not be re-executed post-append —
        # append_to_dedup_index docstring)
        novel_path = str(tmp_path / "novel")
        batch.join(
            cls.filter(F.col("status") == "novel").select("doc_id"),
            "doc_id",
            "left_semi",
        ).write.parquet(novel_path)
        novel = spark.read.parquet(novel_path)
        assert novel.count() > 0
        dd.append_to_dedup_index(novel, idx)
        replay = dd.incremental_dedup_indexed(novel, idx, threshold=0.5)
        statuses = {r.status for r in replay.collect()}
        assert statuses == {"exact"}


def test_lexical_search_explicit_query_ids(spark):
    """tfidf/bm25 retrieval must support sparse/string ids via explicit
    query_ids — the n_queries fallback assumes dense 0-based integer ids
    and silently returns nothing on such corpora (ADVICE r4)."""
    from pandas_etl_spark.functions import text as tx

    rows = [
        ("doc-a", "spark shuffles data between stages"),
        ("doc-b", "spark broadcasts small tables"),
        ("doc-c", "ducks swim in ponds"),
        ("doc-d", "spark shuffles data and broadcasts tables"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # the dense-id fallback finds no query docs on string ids
    assert tx.tfidf_cosine_topk(df, "text", "doc_id", n_queries=2).count() == 0
    got = tx.tfidf_cosine_topk(df, "text", "doc_id", query_ids=["doc-a"], k=2)
    top = got.orderBy("rnk").collect()
    assert [r["query_id"] for r in top] == ["doc-a", "doc-a"]
    assert top[0]["neighbor_id"] == "doc-d"  # shares most terms
    bm = tx.bm25_topk(df, "text", "doc_id", query_ids=["doc-a"], k=2)
    assert {r["query_id"] for r in bm.collect()} == {"doc-a"}


def test_hybrid_rrf_fusion_invariants(spark):
    """RRF fusion on a tiny corpus: every fused row carries the exact
    Σ 1/(60+rank) of its per-system ranks (missing system → 0); a doc
    top-ranked by BOTH systems tops the fusion; every candidate comes
    from at least one leg; query_ids pass-through works on string
    ids."""
    from pandas_etl_spark.functions import text as tx

    rows = [
        ("doc-a", "spark shuffles data between stages"),
        ("doc-b", "spark broadcasts small tables"),
        ("doc-c", "ducks swim in ponds"),
        ("doc-d", "spark shuffles data and broadcasts tables"),
        ("doc-e", "spark shuffles data between stages quickly"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = tx.hybrid_rrf_topk(
        df, "text", "doc_id", query_ids=["doc-a"], k=4, k_each=4
    ).collect()
    assert got and all(r["query_id"] == "doc-a" for r in got)
    for r in got:
        expect = 0.0
        if r["r_tfidf"] is not None:
            expect += 1.0 / (60 + r["r_tfidf"])
        if r["r_bm25"] is not None:
            expect += 1.0 / (60 + r["r_bm25"])
        assert r["rrf"] == round(expect, 6)
        assert r["r_tfidf"] is not None or r["r_bm25"] is not None
    # doc-e shares the whole query text — rank 1 in both systems
    top = min(got, key=lambda r: r["rnk"])
    assert top["neighbor_id"] == "doc-e"
    assert top["r_tfidf"] == 1 and top["r_bm25"] == 1


def test_semantic_decontaminate_pinned(spark):
    """Embedding decontamination on constructed vectors: a train
    vector that is a scaled copy of an eval vector (cosine 1) drops; a
    paraphrase-like near-copy above threshold drops; orthogonal
    vectors survive; cosine is scale-invariant so magnitude never
    matters; empty eval set keeps everything."""
    from pandas_etl_spark.functions.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # scaled copy -> cos 1 -> drop
            (2, [0.9, 0.1, 0.0, 0.0]),   # near-copy -> drop at 0.9
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> keep
            (4, [0.0, 0.0, 5.0, 5.0]),   # orthogonal, big norm -> keep
        ],
        "vec_id long, embedding array<float>",
    )
    kept = {
        r["vec_id"]
        for r in semantic_decontaminate(train, ev, threshold=0.9).collect()
    }
    assert kept == {3, 4}

    empty_ev = ev.limit(0)
    kept = {
        r["vec_id"]
        for r in semantic_decontaminate(train, empty_ev, 0.9).collect()
    }
    assert kept == {1, 2, 3, 4}


def test_jaro_winkler_matches_duckdb_builtin(spark):
    """The Python Jaro-Winkler must be value-identical to DuckDB's
    jaro_winkler_similarity (the oracle scores with the builtin):
    textbook constants, boost-threshold behavior (no boost at
    jaro <= 0.7 despite a shared prefix), degenerate inputs, and the
    blocked pair operator end-to-end on a tiny corpus."""
    import duckdb

    from pandas_etl_spark.functions.dedup import (
        jaro_winkler,
        jaro_winkler_pairs,
    )

    con = duckdb.connect()
    cases = [
        ("martha", "marhta"),      # 0.9611...
        ("dixon", "dicksonx"),     # transpositions + boost
        ("prefix", "prezzzzzzzzzz"),  # prefix but jaro < 0.7: NO boost
        ("Brand#12", "Brand#13"),  # 4-char prefix cap
        ("kitten", "sitting"),     # zero prefix
        ("ab", "ba"),              # window 0 -> no matches
        ("", "abc"),
        ("same", "same"),
    ]
    for a, b in cases:
        d = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert abs(jaro_winkler(a, b) - d) < 1e-12, (a, b)
    assert jaro_winkler("martha", "marhta") == (
        0.9611111111111111
    )

    df = spark.createDataFrame(
        [
            (1, "smith alpha"),
            (2, "smyth alpha"),
            (3, "jones alpha"),
            (4, "smith beta"),
        ],
        "id long, name string",
    )
    got = jaro_winkler_pairs(
        df,
        "name",
        "id",
        F.element_at(F.split(F.col("name"), " "), -1),
        min_sim=0.9,
    ).collect()
    # only the smith/smyth pair inside the 'alpha' block clears 0.9
    assert {(r["id_l"], r["id_r"]) for r in got} == {(1, 2)}
    assert all(r["jw_sim"] >= 0.9 for r in got)


def test_containment_catches_doc_inside_doc(spark):
    """A short doc verbatim inside a much longer page: Jaccard scores it
    far below any dedup threshold, containment scores it 1.0 — the case
    the asymmetric metric exists for."""
    short = "the quick brown fox jumps over the lazy dog"
    long = ("unrelated preamble text wanders on for quite a while here . "
            * 8) + short + (" and then a long trailing discussion continues "
            * 8)
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = dd.ngram_containment_pairs(df, "text", "doc_id", k=5, threshold=0.9)
    row = cont.collect()
    assert len(row) == 1 and row[0]["containment"] == 1.0
    jac = dd.ngram_jaccard_pairs(df, "text", "doc_id", k=5, threshold=0.5)
    assert jac.count() == 0  # symmetric metric misses it


def test_cdc_apply_semantics(spark):
    """CDC unit semantics: latest-by-seq wins, delete-then-update
    resurrects, update-then-delete removes, delete of absent key no-ops,
    update of absent key inserts."""
    from pandas_etl_spark.operators.upsert import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    ops = spark.createDataFrame(
        [
            (1, "x", "U", 1),  # update then delete -> gone
            (1, None, "D", 2),
            (2, "y1", "D", 1),  # delete then update -> resurrected as y2
            (2, "y2", "U", 2),
            (4, "new", "U", 1),  # insert
            (9, None, "D", 1),  # delete absent key -> no-op
        ],
        "k long, v string, op string, seq long",
    )
    got = {r["k"]: r["v"] for r in cdc_apply(base, ops, ["k"], ["seq"]).collect()}
    assert got == {2: "y2", 3: "c", 4: "new"}


def test_pagerank_invariants(spark):
    """PageRank must stay a distribution (sum 1) at every iteration
    count — the dangling-mass term is what makes that hold — and match
    the closed-form stationary ranks on a known asymmetric graph."""
    from pandas_etl_spark.operators.graph import pagerank

    # b is dangling (no out-edges); a->b, c->b, c->a
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("c", "a")], "src string, dst string"
    )
    for iters in (1, 4):
        pr = pagerank(edges, iters=iters)
        total = sum(r["rank"] for r in pr.collect())
        assert abs(total - 1.0) < 1e-9, (iters, total)
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iters=12).collect()}
    # stationary: b collects from a and half of c (+ dangling/uniform) -> top
    assert ranks["b"] > ranks["a"] > ranks["c"]

    # weighted: doubling an edge weight moves rank toward its target
    we = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    wr = {r["node"]: r["rank"] for r in pagerank(we, weight="w", iters=10).collect()}
    assert wr["b"] > wr["c"]


def test_segment_dedup_semantics(spark):
    """Segment dedup: repeated segments survive once corpus-wide (first
    occurrence wins), partially-duplicated docs shrink, fully-duplicated
    docs disappear."""
    from pandas_etl_spark.functions.text import segment_dedup

    seg_a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    seg_b = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    seg_c = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
    df = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),   # original
            (2, f"{seg_a} {seg_c}"),   # first segment is a dup -> shrinks
            (3, seg_b),                # fully duplicated -> disappears
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in segment_dedup(df, "text", "doc_id").collect()}
    assert set(got) == {1, 2}
    assert got[1]["text_dedup"] == f"{seg_a} {seg_b}"
    assert (got[1]["n_kept"], got[1]["n_segments"]) == (2, 2)
    assert got[2]["text_dedup"] == seg_c
    assert (got[2]["n_kept"], got[2]["n_segments"]) == (1, 2)


def test_sessionize_deterministic_on_duplicate_timestamps(spark):
    """Review r5 #3: with duplicate (user, ts) rows the cumsum window
    must use the same (ts, event_id) total order as the gap-flag window
    or session assignment is tie-order-dependent. Events e2/e3 share a
    timestamp where e3 opens a new session (gap > 30 min from e2 is
    false, from e1 true...): pin the exact assignment."""
    import datetime as dt

    from pandas_etl_spark.functions.sessions import with_session_ids

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 10, t0),                                   # session 1
        (1, 11, t0 + dt.timedelta(seconds=3600)),      # gap 1h -> session 2
        (1, 12, t0 + dt.timedelta(seconds=3600)),      # same ts, ordered after 11
        (1, 13, t0 + dt.timedelta(seconds=9000)),      # gap 1.5h -> session 3
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_id"]
        for r in with_session_ids(df, gap_s=1800).collect()
    }
    assert got == {10: 1, 11: 2, 12: 2, 13: 3}


def test_active_users_hll_within_error_of_exact(spark, sf_dir):
    """The HLL sliding-distinct twin must track the exact fan-out count
    within a few rsd at every hour (rsd=2%; allow 6% slack for the
    small-cardinality regime)."""
    from pandas_etl_spark.catalog import QUERIES

    sf = sf_dir
    exact = {
        r["hr"]: r["active_users"]
        for r in QUERIES["active_users_trailing_24h"](spark, sf).collect()
    }
    est = {
        r["hr"]: r["active_users_est"]
        for r in QUERIES["active_users_trailing_24h_approx"](spark, sf).collect()
    }
    assert set(exact) == set(est)
    for hr, n in exact.items():
        assert abs(est[hr] - n) <= max(3, 0.06 * n), (hr, n, est[hr])


def test_triangle_stats_known_graphs(spark):
    """Triangle census on hand-built graphs: K4 (4 triangles, cc=1),
    a 4-path (0 triangles), and robustness to duplicate edges,
    reversed duplicates, and self-loops (all must collapse away)."""
    from pandas_etl_spark.operators.graph import triangle_stats

    def stats(pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        return triangle_stats(df).collect()[0]

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    r = stats(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["n_wedges"] == 12 and r["clustering_coeff"] == 1.0

    path = [(1, 2), (2, 3), (3, 4)]
    r = stats(path)
    assert (r["n_edges"], r["n_triangles"]) == (3, 0)
    assert r["n_wedges"] == 2 and r["clustering_coeff"] == 0.0

    messy = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
    r = stats(messy)  # one triangle; dup/reversed/self edges collapse
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)


def test_node_triangle_counts_local_cc(spark):
    """Per-node census: K4 gives every node 3 triangles and local_cc
    1.0; a K3 with a pendant vertex gives the pendant 0 triangles and
    0 local_cc while its attachment point's cc drops to 1/3."""
    from pandas_etl_spark.operators.graph import node_triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["local_cc"])
        for r in node_triangle_counts(
            spark.createDataFrame(k4, "u long, v long")
        ).collect()
    }
    assert got == {n: (3, 3, 1.0) for n in range(1, 5)}

    pendant = [(1, 2), (2, 3), (1, 3), (3, 4)]  # K3 + pendant node 4
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["local_cc"])
        for r in node_triangle_counts(
            spark.createDataFrame(pendant, "u long, v long")
        ).collect()
    }
    assert got[4] == (1, 0, 0.0)  # pendant: no wedge, defined as 0
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))


def test_label_propagation_two_triangles(spark):
    """Deterministic LPA on two K3s joined by a bridge (3-4): after 3
    synchronous min-tie-break rounds the left triangle converges to
    label 1 and the right to label 3 (hand-traced), and the update is
    robust to duplicate/reversed input edges."""
    from pandas_etl_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (2, 1), (3, 1)]  # dups/reversed collapse
    got = {
        r["node"]: r["label"]
        for r in label_propagation(
            spark.createDataFrame(edges, "u long, v long"), iters=3
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}

    # string node ids: the (-cnt, label) min_by tie-break orders any
    # comparable label type, and lexicographic n1<..<n6 preserves the
    # hand trace
    sedges = [(f"n{a}", f"n{b}") for a, b in edges]
    sgot = {
        r["node"]: r["label"]
        for r in label_propagation(
            spark.createDataFrame(sedges, "u string, v string"), iters=3
        ).collect()
    }
    assert sgot == {f"n{k}": f"n{v}" for k, v in got.items()}


def test_dedup_recall_audit_floor(spark, sf_dir):
    """The registered dedup recall audit must report coherent counts
    (agreeing <= each side) and LSH recall >= 0.8 vs exact Jaccard on
    the fixture corpus — the continuously-observable floor for the
    64-perm/16-band parameters."""
    from pandas_etl_spark.catalog import QUERIES

    r = QUERIES["dedup_recall_audit"](spark, sf_dir).collect()[0]
    assert r["agreeing_pairs"] <= min(r["exact_pairs"], r["lsh_pairs"])
    assert r["recall"] >= 0.8, r
    assert 0.0 <= r["precision"] <= 1.0


def test_modularity_known_partitions(spark):
    """Two disconnected K3s: the perfect 2-community partition scores
    Q = 0.5 (textbook value); lumping everything into one community
    scores exactly 0."""
    from pandas_etl_spark.operators.graph import modularity

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "u long, v long"
    )
    perfect = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)], "node long, label long"
    )
    r = modularity(e, perfect).collect()[0]
    assert (r["n_communities"], r["n_edges"], r["modularity"]) == (2, 6, 0.5)

    lumped = perfect.select("node", F.lit(1).alias("label"))
    r = modularity(e, lumped).collect()[0]
    assert (r["n_communities"], r["modularity"]) == (1, 0.0)


def test_adamic_adar_known_graph(spark):
    """AA on a square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are
    the only non-adjacent pairs, each with both opposite corners as
    common neighbors (deg 2) -> score 2/ln(2). Adding the (1,3) chord
    removes that pair from candidates and bumps corner degrees."""
    import math

    from pandas_etl_spark.operators.graph import adamic_adar

    square = [(1, 2), (2, 3), (3, 4), (1, 4)]
    got = {
        (r["n1"], r["n2"]): (r["common_neighbors"], r["score"])
        for r in adamic_adar(
            spark.createDataFrame(square, "u long, v long")
        ).collect()
    }
    s = 2.0 / math.log(2.0)
    assert set(got) == {(1, 3), (2, 4)}
    for cn, sc in got.values():
        assert cn == 2 and abs(sc - s) < 1e-9

    chorded = square + [(1, 3)]
    got = {
        (r["n1"], r["n2"]): (r["common_neighbors"], r["score"])
        for r in adamic_adar(
            spark.createDataFrame(chorded, "u long, v long")
        ).collect()
    }
    # only (2,4) remains; its common neighbors 1 and 3 now have deg 3
    assert set(got) == {(2, 4)}
    assert got[(2, 4)][0] == 2
    assert abs(got[(2, 4)][1] - 2.0 / math.log(3.0)) < 1e-9

    # max_degree cap: with centers capped at deg 2, the chorded graph's
    # deg-3 corners cannot be wedge centers -> no candidates at all
    capped = adamic_adar(
        spark.createDataFrame(chorded, "u long, v long"), max_degree=2
    )
    assert capped.count() == 0


def test_k_core_peeling(spark):
    """k-core fixpoint: K4 survives k=3 intact; a pendant chain dies
    at k=2 and its removal cascades (peel depth > 1); a path graph's
    2-core is empty; every survivor's core_deg >= k."""
    from pandas_etl_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(spark.createDataFrame(k4, "u long, v long"), 3).collect()
    }
    assert got == {n: 3 for n in range(1, 5)}

    # K4 + chain 4-5-6: peeling 6 (deg 1) exposes 5 (deg 1) -> cascade
    chain = k4 + [(4, 5), (5, 6)]
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(spark.createDataFrame(chain, "u long, v long"), 2).collect()
    }
    assert got == {n: 3 for n in range(1, 5)}

    path = [(1, 2), (2, 3), (3, 4)]
    assert k_core(spark.createDataFrame(path, "u long, v long"), 2).count() == 0

    with pytest.raises(ValueError):
        k_core(spark.createDataFrame(path, "u long, v long"), 0)


def test_assortativity_known_graphs(spark):
    """Degree assortativity: a star is perfectly disassortative
    (r = -1, every edge pairs the hub's high degree with a leaf's 1);
    a regular graph has zero degree variance so r is undefined (NULL);
    edge count is the undirected count despite the both-directions
    tally."""
    from pandas_etl_spark.operators.graph import assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "u long, v long"
    )
    row = assortativity(star).collect()[0]
    assert row["n_edges"] == 5
    assert row["assortativity"] == -1.0

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "u long, v long",
    )
    row = assortativity(k4).collect()[0]
    assert row["n_edges"] == 6
    assert row["assortativity"] is None


def test_bfs_hops_known_graphs(spark):
    """Multi-source BFS: min-hop distances on a path graph; a
    disconnected component is unreachable; max_hops truncates the
    expansion; multiple seeds take the elementwise minimum; an
    isolated seed (no edges) still reports hops 0."""
    from pandas_etl_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5 plus disconnected edge 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "u long, v long"
    )

    def run(seed_rows, **kw):
        seeds = spark.createDataFrame(seed_rows, "node long")
        return {
            r["node"]: r["hops"] for r in bfs_hops(edges, seeds, **kw).collect()
        }

    assert run([(1,)]) == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    assert run([(1,)], max_hops=2) == {1: 0, 2: 1, 3: 2}
    # two seeds: min distance from either; 8-9 reachable only from 9
    assert run([(1,), (9,)]) == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 9: 0, 8: 1}
    # seed outside the edge set: reports itself at 0, expands nowhere
    assert run([(42,)]) == {42: 0}
    assert run([(42,)], max_hops=0) == {42: 0}


def test_shortest_paths_known_graphs(spark):
    """Bounded Bellman-Ford: a 2-edge detour beats a heavy direct
    edge once max_hops admits it; max_hops=1 sees only the direct
    edge; unweighted cost equals BFS hop count; parallel edges
    collapse to the cheapest; negative weights raise."""
    import pytest

    from pandas_etl_spark.operators.graph import shortest_paths

    # direct 1-2 costs 5; detour 1-3-2 costs 2
    wedges = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0)], "u long, v long, w double"
    )
    seeds = spark.createDataFrame([(1,)], "node long")

    def run(df, **kw):
        return {
            r["node"]: r["cost"]
            for r in shortest_paths(df, seeds, **kw).collect()
        }

    assert run(wedges, weight="w", max_hops=2) == {1: 0.0, 2: 2.0, 3: 1.0}
    assert run(wedges, weight="w", max_hops=1) == {1: 0.0, 2: 5.0, 3: 1.0}
    # unweighted: cost == hop count
    assert run(wedges, max_hops=2) == {1: 0.0, 2: 1.0, 3: 1.0}
    # parallel edges (either orientation) keep the cheapest
    par = spark.createDataFrame(
        [(1, 2, 7.0), (2, 1, 3.0)], "u long, v long, w double"
    )
    assert run(par, weight="w", max_hops=1) == {1: 0.0, 2: 3.0}
    neg = spark.createDataFrame([(1, 2, -1.0)], "u long, v long, w double")
    with pytest.raises(ValueError):
        shortest_paths(neg, seeds, weight="w")
    with pytest.raises(ValueError):
        shortest_paths(wedges, seeds, max_hops=-1)


def test_hll_rollup_merge_invariance_and_accuracy(spark, sf_dir):
    """The mergeable-sketch contract: (a) union-merging daily sketches
    to weeks gives the SAME estimate as sketching each week directly
    (HLL registers are maxes — order/partition/grouping-invariant);
    (b) estimates track exact distinct within ~3 rsd (lg_k=12 -> rsd
    ~1.6%; allow 5%); (c) hll_append folding a replayed batch into the
    rollup is a no-op on the estimate (union idempotence)."""
    from pandas_etl_spark.operators.sketches import (
        hll_append,
        hll_estimate,
        hll_rollup,
    )
    from pandas_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("week", "ts").alias("week"),
        "user_id",
    )
    daily = hll_rollup(ev, "user_id", ["day", "week"])
    via_days = {
        r["week"]: r["distinct_est"]
        for r in hll_estimate(daily, ["week"]).collect()
    }
    direct = {
        r["week"]: r["distinct_est"]
        for r in hll_estimate(hll_rollup(ev, "user_id", ["week"]), ["week"]).collect()
    }
    assert via_days == direct  # (a) bit-level merge invariance
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy("week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(via_days) == set(exact)
    for wk, n in exact.items():  # (b) accuracy
        assert abs(via_days[wk] - n) <= max(3, 0.05 * n), (wk, n, via_days[wk])
    replayed = hll_append(daily, ev, "user_id", ["day", "week"])
    again = {
        r["week"]: r["distinct_est"]
        for r in hll_estimate(replayed, ["week"]).collect()
    }
    assert again == via_days  # (c) idempotent under replay
    grand = hll_estimate(daily, []).collect()[0]
    exact_total = ev.select("user_id").distinct().count()
    assert abs(grand["distinct_est"] - exact_total) <= max(3, 0.05 * exact_total)


def test_hll_overlap_inclusion_exclusion(spark, sf_dir):
    """hll_overlap tracks the exact pairwise audience intersection
    within the union's error budget (inclusion-exclusion: the overlap
    estimate inherits ~3 rsd of |A∪B|, NOT of the overlap itself —
    the documented caveat), and never goes negative."""
    from pandas_etl_spark.operators.sketches import hll_overlap, hll_rollup
    from pandas_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    got = {
        (r["seg_a"], r["seg_b"]): r
        for r in hll_overlap(hll_rollup(ev, "user_id", ["event_type"]),
                             "event_type").collect()
    }
    users = {
        r["event_type"]: set()
        for r in ev.select("event_type").distinct().collect()
    }
    for r in ev.distinct().collect():
        users[r["event_type"]].add(r["user_id"])
    segs = sorted(users)
    assert set(got) == {(a, b) for a in segs for b in segs if a < b}
    for (a, b), r in got.items():
        exact = len(users[a] & users[b])
        union = len(users[a] | users[b])
        assert r["overlap_est"] >= 0
        assert abs(r["overlap_est"] - exact) <= max(3, 0.05 * union), (
            a, b, exact, r["overlap_est"],
        )


def test_cms_heavy_hitters_bounds(spark):
    """CMS estimates are one-sided: n <= n_est <= n + eps*N (w.p.
    confidence; deterministic here via fixed seed)."""
    from pandas_etl_spark.operators.frequent import cms_heavy_hitters

    rows = [("hot",)] * 500 + [("warm",)] * 120 + [(f"cold{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "word string")
    n_total = len(rows)
    got = {r["word"]: (r["n"], r["n_est"])
           for r in cms_heavy_hitters(df, "word", theta=0.05, eps=1e-3).collect()}
    assert set(got) == {"hot", "warm"}
    for w, (n, est) in got.items():
        assert n <= est <= n + max(1, int(1e-3 * n_total) + 1), (w, n, est)
    assert got["hot"][0] == 500 and got["warm"][0] == 120


def test_bigram_logprob_discriminates_fluency(spark):
    """A token-soup doc with the SAME unigram profile as the fluent
    corpus must score lower under the bigram LM (the signal
    unigram_logprob cannot see)."""
    from pandas_etl_spark.functions.text import bigram_logprob

    fluent = "a b c d e f " * 10
    soup = "f d b e c a " * 10  # same unigrams, alien bigrams
    rows = [(i, fluent) for i in range(10)] + [(99, soup)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r.avg_logprob for r in bigram_logprob(df, vocab_size=10).collect()}
    fluent_scores = [v for k, v in out.items() if k != 99]
    assert out[99] < min(fluent_scores), out


def test_dsir_importance_prefers_target_like_docs(spark):
    """A raw doc sharing the target distribution's tokens must get a
    higher importance log-weight than one with disjoint tokens."""
    from pandas_etl_spark.functions.text import dsir_importance

    rows = (
        [(i, "the of and to in", True) for i in range(20)]
        + [(100, "the of and to in", False)]
        + [(101, "der und das zu im", False)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    out = {
        r.id: r.log_ratio
        for r in dsir_importance(df, F.col("is_t"), n_buckets=64).collect()
    }
    assert set(out) == {100, 101}
    assert out[100] > out[101], out


def test_salted_topk_equals_single_window(spark):
    """The two-stage salted top-k must be bit-identical to the single
    per-key window, including tie-breaks."""
    from pyspark.sql import Window as W

    from pandas_etl_spark.functions.similarity import salted_topk

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("key"),
        F.col("id").alias("nid"),
        # scores with deliberate ties: only 40 distinct values
        (F.pmod(F.xxhash64("id"), F.lit(40)).cast("double")).alias("score"),
    )
    order = [F.desc("score"), F.asc("nid")]
    got = {
        (r.key, r.nid, r.rank)
        for r in salted_topk(df, "key", order, 25, salt_col="nid").collect()
    }
    w = W.partitionBy("key").orderBy(*order)
    want = {
        (r.key, r.nid, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 25)
        .collect()
    }
    assert got == want


def test_poisson_bootstrap_ci_brackets_mean(spark, sf_dir):
    """The replicate-percentile CI must bracket the point estimate and
    have positive width; weights are deterministic so the whole result
    is stable across runs."""
    from pandas_etl_spark.operators.bootstrap import poisson_bootstrap_ci

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    out = poisson_bootstrap_ci(
        li, "l_extendedprice", ["l_returnflag"], key, n_replicates=24
    ).collect()
    assert out
    for r in out:
        assert r.ci_lo < r.ci_hi, r
        assert r.ci_lo <= r.mean_value <= r.ci_hi, r
    again = poisson_bootstrap_ci(
        li.repartition(13), "l_extendedprice", ["l_returnflag"], key, n_replicates=24
    ).collect()
    assert {(r.l_returnflag, r.ci_lo, r.ci_hi) for r in again} == {
        (r.l_returnflag, r.ci_lo, r.ci_hi) for r in out
    }


def test_segment_neardup_drops_edited_boilerplate(spark):
    """Near-dup segment removal: exact repeats AND one-word-edited
    copies of an earlier segment vanish; novel segments survive; docs
    reduced to nothing disappear (C4 semantics)."""
    from pandas_etl_spark.functions.text import segment_neardup_dedup

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    pert = base.replace("echo", "zulu")  # 1 of 20 words changed
    uniq = (
        "one two three four five six seven eight nine ten "
        "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    )
    rows = [
        (0, base + " " + uniq),  # first occurrences: everything kept
        (1, base + " " + base),  # exact repeats of (0, seg0)
        (2, pert + " " + uniq),  # near-dup of (0, seg0) + exact of (0, seg1)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r for r in segment_neardup_dedup(df, words_per_segment=20).collect()}
    assert set(out) == {0}, out
    assert out[0].n_kept == 2 and out[0].n_segments == 2
    assert out[0].text_dedup == base + " " + uniq


def test_table_checksum_detects_corruption_and_ignores_order(spark, sf_dir):
    """The fingerprint is invariant under repartitioning but changes on
    any single-value corruption; n_rows catches row loss."""
    from pandas_etl_spark.operators.checksum import table_checksum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id", "lang", "source", "n_chars"]
    a = table_checksum(docs, cols, key_col="doc_id").first()
    b = table_checksum(docs.repartition(17), cols, key_col="doc_id").first()
    assert (a.n_rows, a.xor_hash, a.key_min, a.key_max) == (
        b.n_rows,
        b.xor_hash,
        b.key_min,
        b.key_max,
    )
    corrupted = docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == a.key_min, F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    c = table_checksum(corrupted, cols, key_col="doc_id").first()
    assert c.n_rows == a.n_rows and c.xor_hash != a.xor_hash
    d = table_checksum(docs.filter(F.col("doc_id") != a.key_min), cols).first()
    assert d.n_rows == a.n_rows - 1


def test_parquet_manifest_roundtrip_and_tamper(spark, sf_dir, tmp_path):
    """to_parquet_with_manifest embeds a fingerprint the reader can
    re-derive; verify passes on the intact copy and fails after a
    tampered rewrite. The _manifest subdir must not break plain
    parquet reads of the same path."""
    from pandas_etl_spark.operators.checksum import (
        to_parquet_with_manifest,
        verify_manifest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "release")
    m = to_parquet_with_manifest(docs, path, key_col="doc_id")
    assert m["n_rows"] == docs.count()
    assert spark.read.parquet(path).count() == docs.count()  # _manifest skipped
    assert verify_manifest(spark, path)["ok"]
    # tamper: rewrite the data files with one value changed, keep manifest
    tampered = docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == m["key_min"], F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    tampered.write.mode("overwrite").parquet(str(tmp_path / "t"))
    import shutil, os

    for f in os.listdir(str(tmp_path / "release")):
        if f.endswith(".parquet"):
            os.remove(str(tmp_path / "release" / f))
    for f in os.listdir(str(tmp_path / "t")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "t" / f), str(tmp_path / "release" / f))
    res = verify_manifest(spark, path)
    assert not res["ok"] and res["actual_xor_hash"] != res["xor_hash"]


def test_manifest_ingest_sink_incremental_equals_cold(spark, sf_dir, tmp_path):
    """XOR-merged per-batch manifests must equal the cold full-table
    fingerprint; a replayed batch id is skipped (no double-apply)."""
    from pandas_etl_spark.operators.checksum import (
        manifest_ingest_sink,
        table_checksum,
        verify_manifest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "rel")
    sink = manifest_ingest_sink(path, ["doc_id", "lang", "n_chars"], key_col="doc_id")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay: must be a no-op
    res = verify_manifest(spark, path)
    assert res["ok"] and res["n_rows"] == docs.count()
    cold = table_checksum(
        spark.read.parquet(path), sorted(["doc_id", "lang", "n_chars"]), "doc_id"
    ).first()
    assert cold["xor_hash"] == res["xor_hash"]
    assert (res["key_min"], res["key_max"]) == (cold["key_min"], cold["key_max"])


def test_exact_span_dedup_rolling_offset(spark):
    """Exact-span dedup: a duplicated 8-token run at a DIFFERENT offset
    in a later doc is removed (rolling windows catch what aligned
    segment dedup can't); the owner (lowest id) keeps its copy; unique
    text survives; a fully-duplicated later doc collapses to empty."""
    from pandas_etl_spark.functions.text import exact_span_dedup

    run = "d1 d2 d3 d4 d5 d6 d7 d8"
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 {run} a3 a4"),    # owner: untouched
            (2, f"b1 b2 b3 {run} b4"),    # shifted dup: run removed
            (3, run),                     # fully duplicated: empty
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique: untouched
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in exact_span_dedup(df, "text", "doc_id").collect()}
    assert got[1]["text_dedup"] == f"a1 a2 {run} a3 a4"
    assert got[1]["n_removed"] == 0
    assert got[2]["text_dedup"] == "b1 b2 b3 b4"
    assert got[2]["n_removed"] == 8
    assert got[3]["text_dedup"] == ""
    assert got[3]["n_removed"] == 8
    assert got[4]["n_removed"] == 0
    # overlapping duplicated windows merge into one maximal span: doc 5
    # shares a 9-token run with doc 1's owner windows (two overlapping
    # 8-windows) -> all 9 tokens go, not 16
    df2 = spark.createDataFrame(
        [(1, f"{run} x9 t1"), (5, f"z1 {run} x9")],
        "doc_id long, text string",
    )
    got2 = {r["id"]: r for r in exact_span_dedup(df2, "text", "doc_id").collect()}
    assert got2[5]["text_dedup"] == "z1"
    assert got2[5]["n_removed"] == 9


def test_normalize_text_nfc_and_cleanup(spark):
    """NFC composes decomposed sequences (e+U+0301 -> é), control chars
    strip, whitespace collapses; clean ASCII passes through changed
    only by construction."""
    from pandas_etl_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "café du monde"),       # decomposed -> composed
            (2, "a\x00b\tc   d"),             # control + ws collapse
            (3, "plain text"),                # untouched
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in normalize_text(df, "text", "doc_id").collect()}
    assert got[1]["text_norm"] == "caf\u00e9 du monde"
    assert got[1]["changed"] and got[1]["n_chars_out"] == got[1]["n_chars_in"] - 1
    assert got[2]["text_norm"] == "ab c d"
    assert got[3]["text_norm"] == "plain text"
    assert not got[3]["changed"]


def test_ann_recall_audit_bounds(spark, sf_dir):
    """The recall audit reports one row per ANN method with recall in
    [0,1]; exact-baseline membership means a method can never exceed 1
    and IVF with nprobe=4/16 cells must beat the random-bucket floor."""
    from pandas_etl_spark.catalog import QUERIES

    rows = {r["method"]: r for r in QUERIES["ann_recall_audit"](spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "pq"}
    for m, r in rows.items():
        assert 0.0 <= r["min_recall_at_k"] <= r["mean_recall_at_k"] <= 1.0, m
        assert r["n_queries"] > 0
    assert rows["ivf"]["mean_recall_at_k"] >= 0.5


def test_ann_pq_checked_rejects_ragged_embedding(spark, sf_dir, tmp_path):
    """A vector shorter than the 64-dim contract must raise: its flat
    norm would be NULL and it would be quantized unnormalized."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandas_etl_spark.catalog import QUERIES

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = t.column("embedding").to_pylist()
    vecs[-1] = vecs[-1][:63]
    i = t.schema.get_field_index("embedding")
    t = t.set_column(i, t.schema.field(i), pa.array(vecs, t.schema.field(i).type))
    pq.write_table(t, tmp_path / "embeddings.parquet")
    with pytest.raises(Exception, match="embedding length is not 64"):
        QUERIES["ann_pq_checked"](spark, str(tmp_path)).collect()


def test_checked_ann_twins_recall_vs_bruteforce(spark, sf_dir):
    """The portable IVF/PQ checked twins (sign-pattern-seeded one-pass
    IVF fit; lowest-id-init PQ Lloyd fit) must still behave like ANN
    indexes, not hash lotteries: their top-5 sets
    must recover a meaningful fraction of the exact cosine top-5, and
    every reported IVF neighbor must carry the true (rounded) cosine of
    that pair — the twin re-ranks exactly within probed cells."""
    from pandas_etl_spark.catalog import QUERIES

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    ivf = QUERIES["ann_ivf_checked"](spark, sf_dir).collect()
    pq = QUERIES["ann_pq_checked"](spark, sf_dir).collect()
    ivf_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    pq_pairs = {(r["query_id"], r["neighbor_id"]) for r in pq}
    assert len(exact) == 25  # 5 queries x k=5
    assert len(ivf_pairs & exact) / len(exact) >= 0.3, sorted(ivf_pairs)
    assert len(pq_pairs & exact) / len(exact) >= 0.3, sorted(pq_pairs)
    # IVF re-ranks exactly: per query, cosine_sim must be non-increasing
    # with rank and within [-1, 1]
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cosine_sim"]))
    for qid, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), (qid, sims)
        assert all(-1.0 <= s <= 1.0 for s in sims), (qid, sims)
    # PQ re-ranks its ADC shortlist exactly: cosine non-increasing
    by_q = {}
    for r in pq:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cosine_sim"]))
    for qid, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), (qid, sims)
        assert all(-1.0 <= s <= 1.0 for s in sims), (qid, sims)


def test_exact_span_dedup_null_and_empty_text(spark):
    """Null/empty text rows yield (n_tokens=0, empty output) instead of
    the -1 that legacy size(NULL) would propagate; other rows are
    unaffected."""
    from pandas_etl_spark.functions.text import exact_span_dedup

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c")], "doc_id long, text string"
    )
    got = {r["id"]: r for r in exact_span_dedup(df, "text", "doc_id").collect()}
    for i in (1, 2):
        assert (got[i]["n_tokens"], got[i]["n_removed"], got[i]["text_dedup"]) \
            == (0, 0, "")
    assert got[3]["text_dedup"] == "a b c"


def test_span_dedup_incremental_lifecycle(spark, tmp_path):
    """Write-once gram index lifecycle: batch 2 loses spans already
    accepted in batch 1 (cross-batch), keeps novel text, and in-batch
    ownership still applies to grams the index has not seen. With a
    self-dup-free accepted batch 1, the incremental result equals the
    one-shot exact_span_dedup over the union restricted to batch 2."""
    from pandas_etl_spark.functions.text import (
        append_span_index,
        build_span_index,
        exact_span_dedup,
        span_dedup_indexed,
    )

    run = "c1 c2 c3 c4 c5 c6 c7 c8"
    b1 = spark.createDataFrame(
        [(1, f"a1 a2 {run}"), (2, "m1 m2 m3 m4 m5 m6 m7 m8 m9")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "span_idx")
    build_span_index(b1, idx_path, "text", k=8)

    fresh = "f1 f2 f3 f4 f5 f6 f7 f8"
    b2 = spark.createDataFrame(
        [
            (10, f"x1 {run} x2"),        # cross-batch dup -> run removed
            (11, f"{fresh} y1"),         # batch owner of fresh -> kept
            (12, f"z1 {fresh}"),         # in-batch dup of 11 -> removed
            (13, "u1 u2 u3"),            # short, untouched
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in span_dedup_indexed(b2, idx_path).collect()}
    assert got[10]["text_dedup"] == "x1 x2"
    assert got[11]["text_dedup"] == f"{fresh} y1"
    assert got[12]["text_dedup"] == "z1"
    assert got[13]["text_dedup"] == "u1 u2 u3"

    # one-shot equivalence on batch-2 rows (batch 1 is self-dup-free)
    oneshot = {
        r["id"]: r
        for r in exact_span_dedup(b1.unionByName(b2), "text", "doc_id").collect()
        if r["id"] >= 10
    }
    for i in (10, 11, 12, 13):
        assert oneshot[i]["text_dedup"] == got[i]["text_dedup"], i
        assert oneshot[i]["n_removed"] == got[i]["n_removed"], i

    # append accepted batch-2 text; a batch-3 copy of 11's fresh run now drops
    acc2 = spark.createDataFrame(
        [(11, f"{fresh} y1")], "doc_id long, text string"
    )
    append_span_index(acc2, idx_path, "text")
    b3 = spark.createDataFrame(
        [(20, f"q1 {fresh} q2")], "doc_id long, text string"
    )
    got3 = span_dedup_indexed(b3, idx_path).collect()[0]
    assert got3["text_dedup"] == "q1 q2"
    # idempotent growth: re-appending the same text adds no grams
    n_before = spark.read.parquet(idx_path + "/grams").count()
    append_span_index(acc2, idx_path, "text")
    assert spark.read.parquet(idx_path + "/grams").count() == n_before


def test_categorical_association_pinned_values(spark):
    """MI and Cramer's V against hand-computable cases: a column
    perfectly determined by another scores MI = ln(k), V = 1; two
    independent uniform columns score exactly 0 on both (balanced
    16-row design -> observed == expected); nulls form their own
    category; < 2 columns raises."""
    import math

    import pytest

    from pandas_etl_spark.operators.profile import categorical_association

    # perfect dependence: y = x over 2 categories, 8 rows
    dep = spark.createDataFrame(
        [(str(i % 2), str(i % 2)) for i in range(8)], "a string, b string"
    )
    r = categorical_association(dep, ["a", "b"]).first()
    assert r["col_a"] == "a" and r["col_b"] == "b"
    assert r["n_cats_a"] == 2 and r["n_cats_b"] == 2
    assert abs(r["mi_nats"] - round(math.log(2), 6)) < 1e-6
    assert r["cramers_v"] == 1.0

    # independence: full 4x4 cross design, every cell count 1
    ind = spark.createDataFrame(
        [(str(i), str(j)) for i in range(4) for j in range(4)],
        "a string, b string",
    )
    r = categorical_association(ind, ["a", "b"]).first()
    assert r["mi_nats"] == 0.0 and r["cramers_v"] == 0.0

    # nulls are their own category: (None|'x') vs ('0'|'1') dependent
    nul = spark.createDataFrame(
        [(None, "0"), (None, "0"), ("x", "1"), ("x", "1")],
        "a string, b string",
    )
    r = categorical_association(nul, ["a", "b"]).first()
    assert r["n_cats_a"] == 2 and r["cramers_v"] == 1.0

    with pytest.raises(ValueError):
        categorical_association(dep, ["a"])


def test_benford_deviation_pinned_values(spark):
    """Benford audit against hand-computable cases: one value per
    digit 1..9 gives uniform 1/9 observed shares and the closed-form
    chi2/MAD; nulls, zeros, and negatives' signs are excluded/skipped;
    a sub-1e-3 double (scientific rendering) still yields its leading
    significant digit; absent digits appear with n=0 and still pay
    expected chi-square mass; empty column list raises."""
    import math

    import pytest

    from pandas_etl_spark.operators.profile import benford_deviation

    uni = spark.createDataFrame(
        [(float(d),) for d in range(1, 10)] + [(None,), (0.0,)],
        "v double",
    )
    rows = {r["digit"]: r for r in benford_deviation(uni, ["v"]).collect()}
    assert sorted(rows) == list(range(1, 10))
    e = [math.log10(1 + 1 / d) for d in range(1, 10)]
    chi2 = 9 * sum((1 / 9 - ed) ** 2 / ed for ed in e)
    mad = sum(abs(1 / 9 - ed) for ed in e) / 9
    for d in range(1, 10):
        r = rows[d]
        assert r["n"] == 1 and r["col_name"] == "v"
        assert abs(r["obs_share"] - round(1 / 9, 6)) < 1e-6
        assert abs(r["benford_share"] - e[d - 1]) < 1e-6
        assert abs(r["chi2"] - chi2) < 1e-5
        assert abs(r["mad"] - mad) < 1e-6

    # scientific rendering keeps the significant digit; 7 absent
    sci = spark.createDataFrame([(0.00042,), (42.0,)], "v double")
    rows = {r["digit"]: r for r in benford_deviation(sci, ["v"]).collect()}
    assert rows[4]["n"] == 2 and rows[4]["obs_share"] == 1.0
    assert rows[7]["n"] == 0 and rows[7]["obs_share"] == 0.0
    # absent digits still pay their expected mass: chi2 > 0
    assert rows[7]["chi2"] > 0

    with pytest.raises(ValueError):
        benford_deviation(uni, [])


def test_pca_fit_project_properties(spark, sf_dir):
    """Exact-PCA invariants on the embeddings fixture: components are
    orthonormal and eigenvalue-ordered; the projected coordinates'
    population variance equals the eigenvalues and distinct components
    are uncorrelated; the fit is partition-invariant (exact moments —
    only summation-order ulps differ); whitening rescales to unit
    variance; full-rank reconstruction is exact; k out of range and
    empty input raise."""
    import numpy as np
    import pytest

    from pandas_etl_spark.functions.decompose import pca_fit, pca_project
    from pandas_etl_spark.sources import load_table

    emb = load_table(spark, str(sf_dir), "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    W = model.components
    assert W.shape == (8, 64)
    assert np.allclose(W @ W.T, np.eye(8), atol=1e-9)
    ev = model.explained_var
    assert all(ev[i] >= ev[i + 1] >= 0 for i in range(7))
    # sign convention: largest-|coordinate| entry positive
    for row in W:
        assert row[int(np.argmax(np.abs(row)))] > 0

    rows = pca_project(emb, model, "embedding").select("proj").collect()
    P = np.array([r["proj"] for r in rows])
    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    # population variance of each projected coord == its eigenvalue,
    # and coords are uncorrelated
    C = (P - P.mean(axis=0)).T @ (P - P.mean(axis=0)) / len(P)
    assert np.allclose(np.diag(C), ev, rtol=1e-6, atol=1e-9)
    assert np.allclose(C - np.diag(np.diag(C)), 0, atol=1e-6)

    # partition invariance of the exact fit
    model2 = pca_fit(emb.repartition(7), "embedding", k=8)
    assert np.allclose(model2.explained_var, ev, rtol=1e-8, atol=1e-10)
    assert np.allclose(np.abs(model2.components), np.abs(W), atol=1e-7)

    # whitening: unit variance per coord
    rows = pca_project(emb, model, "embedding", whiten=True).select(
        "proj"
    ).collect()
    Pw = np.array([r["proj"] for r in rows])
    assert np.allclose(Pw.var(axis=0), 1.0, rtol=1e-6)

    # full-rank reconstruction is exact
    full = pca_fit(emb, "embedding", k=64)
    Pf = (X - full.mean) @ full.components.T
    assert np.allclose(
        Pf @ full.components + full.mean, X, atol=1e-8
    )
    # top-8 residual: explained variance matches the eigen gap
    resid = X - (P @ W + model.mean)
    total_var = ((X - X.mean(axis=0)) ** 2).sum(axis=1).mean()
    assert np.isclose(
        (resid**2).sum(axis=1).mean(), total_var - ev.sum(), rtol=1e-6
    )

    with pytest.raises(ValueError):
        pca_fit(emb, "embedding", k=0)
    with pytest.raises(ValueError):
        pca_fit(emb.limit(0), "embedding", k=2)


def test_pca_power_rounding_margins(sf_dir):
    """Float-boundary margin contract for pca_power_top_component (the
    r8 driver red row). Every rounded quantity must sit far from its
    rounding half-boundary RELATIVE TO ITS OWN residual drift — an
    absolute margin bound is geometrically impossible (64 w values on
    a 1e-6 grid have expected min margin ~8e-9), which is exactly why
    the original single-point pinning failed: the unpinned iteration
    drifts ~1e-8, the same order as the margins it was rounded at.
    With μ and cov pinned at their single-pass aggregates the drift
    ladder is: μ/cov ~1e-12 (one n-term reassociated sum), w ~1e-13
    (fixed-order iteration over pinned constants), pc1 ~1e-14
    (left-associative fold over pinned constants, 1-ulp constant
    representation differences). The probe oracle measures each
    quantity's true margin on the live data; each must beat its
    drift bound by ≥100×. Measured r9 at sf0.001/sf0.01: mu 1.4e-8,
    cov 3.4e-9/7.5e-8, w 4.9e-10/1.1e-9, pc1 7.1e-8/5.1e-9."""
    import duckdb

    from pandas_etl_spark.catalog.similarity import _pca_power_oracle
    from tests.oracle_harness import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        margins = dict(con.execute(_pca_power_oracle(probe=True)).fetchall())
    finally:
        con.close()
    floors = {"mu_6": 1e-10, "cov_4": 1e-10, "w_6": 1e-11, "pc1_4": 1e-11}
    assert set(margins) == set(floors)
    for q, floor in floors.items():
        assert margins[q] > floor, (
            f"{q} rounding-boundary margin {margins[q]} is within drift "
            f"range (floor {floor}) — pin this quantity on a coarser grid"
        )


def test_holt_linear_pinned_recurrence(spark):
    """Holt smoothing against the hand-run textbook recurrence: level,
    trend, and one-step fitted reproduce the Python fold exactly;
    input row order is irrelevant (the operator sorts per series);
    single-row series get (level=y, trend=0, fitted=None); multiple
    independent series smooth independently; bad alpha/beta raise."""
    import pytest

    from pandas_etl_spark.operators.forecast import holt_linear

    ys = [10.0, 12.0, 11.0, 15.0, 14.0]
    a, b = 0.5, 0.3
    lv, tr = [ys[0]], [ys[1] - ys[0]]
    fitted = [None]
    for t in range(1, len(ys)):
        l_new = a * ys[t] + (1 - a) * (lv[-1] + tr[-1])
        b_new = b * (l_new - lv[-1]) + (1 - b) * tr[-1]
        fitted.append(lv[-1] + tr[-1])
        lv.append(l_new)
        tr.append(b_new)

    rows = [("s", t, ys[t]) for t in range(len(ys))]
    rows += [("z", 0, 7.0)]  # single-row series
    # shuffled input order: the operator must sort by the order col
    rows = rows[::-1]
    df = spark.createDataFrame(rows, "g string, t int, v double")
    got = {
        (r["g"], r["t"]): r
        for r in holt_linear(df, "g", "t", "v", alpha=a, beta=b).collect()
    }
    assert len(got) == 6
    for t in range(len(ys)):
        r = got[("s", t)]
        assert r["y"] == ys[t]
        assert r["level"] == lv[t] and r["trend"] == tr[t]
        assert r["fitted"] == fitted[t]
    rz = got[("z", 0)]
    assert rz["level"] == 7.0 and rz["trend"] == 0.0 and rz["fitted"] is None

    with pytest.raises(ValueError):
        holt_linear(df, "g", "t", "v", alpha=0.0)
    with pytest.raises(ValueError):
        holt_linear(df, "g", "t", "v", beta=1.5)


def test_spearman_correlation_pinned_values(spark):
    """Spearman against hand-checkable cases: any strictly monotone
    (even nonlinear) relation scores exactly 1, reversed scores -1;
    ties reproduce pandas' average-rank Pearson exactly; nulls drop
    pairwise (n reflects it); constant columns give NULL rho; < 2
    columns raises."""
    import pandas as pd
    import pytest

    from pandas_etl_spark.operators.profile import spearman_correlation

    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    mono = spark.createDataFrame(
        [(x, x**3, -x) for x in xs], "a double, b double, c double"
    )
    got = {
        (r["col_a"], r["col_b"]): r
        for r in spearman_correlation(mono, ["a", "b", "c"]).collect()
    }
    assert got[("a", "b")]["spearman_rho"] == 1.0
    assert got[("a", "c")]["spearman_rho"] == -1.0
    assert got[("b", "c")]["spearman_rho"] == -1.0
    assert got[("a", "b")]["n"] == 6

    # ties: match pandas average-rank Pearson
    rows = [(1.0, 2.0), (1.0, 1.0), (2.0, 2.0), (3.0, 1.0), (3.0, 3.0)]
    tied = spark.createDataFrame(rows, "a double, b double")
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    expect = pdf["a"].rank(method="average").corr(pdf["b"].rank(method="average"))
    r = spearman_correlation(tied, ["a", "b"]).first()
    assert abs(r["spearman_rho"] - round(expect, 6)) <= 1e-6

    # pairwise null drop + constant column -> NULL rho
    nul = spark.createDataFrame(
        [(1.0, 1.0, 5.0), (2.0, None, 5.0), (3.0, 3.0, 5.0)],
        "a double, b double, k double",
    )
    got = {
        (r["col_a"], r["col_b"]): r
        for r in spearman_correlation(nul, ["a", "b", "k"]).collect()
    }
    assert got[("a", "b")]["n"] == 2 and got[("a", "b")]["spearman_rho"] == 1.0
    assert got[("a", "k")]["spearman_rho"] is None

    with pytest.raises(ValueError):
        spearman_correlation(mono, ["a"])


def test_global_running_sum_conservation_large_domain(spark):
    """Regression (r5): global_running_sum must PIN its range
    partitioning — before the fix, the offsets map was collected from
    one execution of repartitionByRange and applied to a RE-SAMPLED
    one, silently dropping rows from the cumulative (a 60k-key prefix
    sum lost 258 rows). Conservation invariants on a 60k-key domain:
    the max cumulative equals the grand total and Σ per-key cum is the
    exact closed form."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.operators.prefix import global_running_sum

    n = 60000
    df = spark.range(n).select(
        (F.col("id") * 0.01).alias("k"), F.lit(1).alias("one")
    )
    run = global_running_sum(df, [F.col("k")], "one", "cum")
    agg = run.agg(
        F.max("cum").alias("mx"), F.sum("cum").alias("s")
    ).first()
    assert agg["mx"] == n
    assert agg["s"] == n * (n + 1) // 2


def test_ks_two_sample_pinned_values(spark):
    """KS statistic against hand-computable cases: identical samples
    give D = 0 / no drift; disjoint supports give D = 1 / drift; a
    half-shifted sample gives the exact step-function gap; nulls are
    excluded; the critical value follows the closed form."""
    import math

    from pandas_etl_spark.operators.quality import ks_two_sample

    def mk(vals):
        return spark.createDataFrame([(v,) for v in vals], "x double")

    a = mk([1.0, 2.0, 3.0, 4.0])
    r = ks_two_sample(a, mk([1.0, 2.0, 3.0, 4.0]), "x").first()
    assert r["ks_d"] == 0.0 and not r["drifted"]
    assert r["n1"] == 4 and r["n2"] == 4
    assert r["ks_crit"] == round(1.358 * math.sqrt(8 / 16), 6)

    r = ks_two_sample(a, mk([10.0, 11.0, 12.0, 13.0]), "x").first()
    assert r["ks_d"] == 1.0 and r["drifted"]

    # b = a shifted by 2: ECDF gap peaks at 0.5 (values 3,4 seen by a
    # fully, by b half/none)
    r = ks_two_sample(a, mk([3.0, 4.0, 5.0, 6.0]), "x").first()
    assert r["ks_d"] == 0.5

    # nulls excluded from counts
    r = ks_two_sample(a, mk([1.0, 2.0, None, None]), "x").first()
    assert r["n2"] == 2


def test_mann_whitney_u_pinned_values(spark):
    """MWU against hand-computed cases: sample1 entirely below
    sample2 gives U1 = 0, entirely above gives U1 = n1·n2; a small
    mixed case reproduces the textbook U and tie-free z; all-ties
    input has zero variance and returns z = 0 via the guard."""
    import math

    from pandas_etl_spark.operators.quality import mann_whitney_u

    def mk(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "x double")

    r = mann_whitney_u(mk([1, 2]), mk([3, 4]), "x").first()
    assert r["u1"] == 0.0
    r = mann_whitney_u(mk([3, 4]), mk([1, 2]), "x").first()
    assert r["u1"] == 4.0

    # {1,3,4} vs {2}: R1 = 1+3+4 = 8, U1 = 8-6 = 2, mu = 1.5,
    # var = 3*1/12*5 = 1.25, z = 0.5/sqrt(1.25)
    r = mann_whitney_u(mk([1, 3, 4]), mk([2]), "x").first()
    assert r["u1"] == 2.0
    assert abs(r["z_score"] - round(0.5 / math.sqrt(1.25), 6)) <= 1e-6

    # every value tied: tie correction zeroes the variance -> z = 0
    r = mann_whitney_u(mk([5, 5]), mk([5, 5]), "x").first()
    assert r["u1"] == 2.0 and r["z_score"] == 0.0


def test_theil_sen_pinned_values(spark):
    """Theil-Sen robustness: exact-line points give the exact
    slope/intercept; ONE wild outlier among 9 line points leaves the
    slope-median untouched (the estimator's whole point — OLS would
    move); groups fit independently."""
    from pandas_etl_spark.operators.forecast import theil_sen

    line = [(float(x), 3.0 * x + 2.0, "g") for x in range(9)]
    df = spark.createDataFrame(line, "x double, y double, g string")
    r = theil_sen(df, "x", "y", ["g"]).first()
    assert r["slope"] == 3.0 and r["intercept"] == 2.0 and r["n_points"] == 9

    outl = line[:-1] + [(8.0, 1000.0, "g")]
    r = theil_sen(
        spark.createDataFrame(outl, "x double, y double, g string"),
        "x",
        "y",
        ["g"],
    ).first()
    # 8 of 36 pairwise slopes involve the outlier -> median still 3
    assert r["slope"] == 3.0

    two = line + [(float(x), -x + 7.0, "h") for x in range(5)]
    got = {
        r["g"]: r
        for r in theil_sen(
            spark.createDataFrame(two, "x double, y double, g string"),
            "x",
            "y",
            ["g"],
        ).collect()
    }
    assert got["g"]["slope"] == 3.0 and got["h"]["slope"] == -1.0
    assert got["h"]["intercept"] == 7.0


def test_cusum_changepoint_pinned_values(spark):
    """CUSUM on a clean level shift [0,0,0,10,10,10]: |S| peaks at the
    last pre-shift point (day 3) with max 15 and normalized stat
    15/(5·sqrt(6)); a constant series has zero stat via the sd
    guard."""
    import math

    from pandas_etl_spark.operators.forecast import cusum_changepoint

    df = spark.createDataFrame(
        [(t, [0.0, 0.0, 0.0, 10.0, 10.0, 10.0][t - 1]) for t in range(1, 7)],
        "t int, y double",
    )
    r = cusum_changepoint(df, "t", "y").first()
    assert r["change_point"] == 3 and r["n"] == 6
    assert r["max_cusum"] == 15.0
    assert abs(r["cusum_stat"] - round(15 / (5 * math.sqrt(6)), 6)) <= 1e-6

    flat = spark.createDataFrame(
        [(t, 4.0) for t in range(1, 5)], "t int, y double"
    )
    r = cusum_changepoint(flat, "t", "y").first()
    assert r["max_cusum"] == 0.0 and r["cusum_stat"] == 0.0


def test_roc_auc_pinned_values(spark):
    """AUC endpoints and the tie convention: perfect separation -> 1,
    inverted -> 0, all scores tied -> exactly 0.5; a mixed case
    reproduces the hand-counted P(s+ > s-) + half-tie credit; gini =
    2·AUC - 1; nulls in score or label are excluded."""
    from pandas_etl_spark.operators.quality import roc_auc

    def mk(rows):
        return spark.createDataFrame(rows, "s double, y int")

    r = roc_auc(mk([(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)]), "s", "y").first()
    assert r["auc"] == 1.0 and r["gini"] == 1.0
    assert r["n_pos"] == 2 and r["n_neg"] == 2

    r = roc_auc(mk([(4.0, 0), (3.0, 0), (1.0, 1), (2.0, 1)]), "s", "y").first()
    assert r["auc"] == 0.0 and r["gini"] == -1.0

    r = roc_auc(mk([(5.0, 0), (5.0, 1), (5.0, 0), (5.0, 1)]), "s", "y").first()
    assert r["auc"] == 0.5 and r["gini"] == 0.0

    # pos scores {2, 3}, neg scores {1, 3}: pairs (2>1), (3>1) win,
    # (2<3) lose, (3=3) half -> AUC = 2.5/4
    r = roc_auc(
        mk([(2.0, 1), (3.0, 1), (1.0, 0), (3.0, 0)]), "s", "y"
    ).first()
    assert r["auc"] == 0.625

    r = roc_auc(
        mk([(1.0, 0), (2.0, 1), (None, 1), (9.0, None)]), "s", "y"
    ).first()
    assert r["n_pos"] == 1 and r["n_neg"] == 1 and r["auc"] == 1.0


def test_calibration_bins_pinned_values(spark):
    """Calibration table on constructed scores already in [0,1]:
    bin assignment, per-bin mean score / positive rate, and the
    count-weighted ECE reproduce hand arithmetic; a perfectly
    calibrated score (p == outcome rate per bin) gives ECE 0; the
    top-edge score lands in the last bin."""
    from pandas_etl_spark.operators.quality import calibration_bins

    # scores 0.0 and 1.0 fix bounds to [0,1]; two bins for easy math
    rows = [
        (0.0, 0), (0.1, 0), (0.1, 0),      # bin 0: conf .0667, acc 0
        (0.9, 1), (0.9, 1), (1.0, 0),      # bin 1: conf .9333, acc 2/3
    ]
    df = spark.createDataFrame(rows, "s double, y int")
    got = {
        r["bin"]: r for r in calibration_bins(df, "s", "y", n_bins=2).collect()
    }
    assert set(got) == {0, 1} and got[0]["n"] == 3 and got[1]["n"] == 3
    assert got[0]["mean_score"] == round(0.2 / 3, 6)
    assert got[0]["pos_rate"] == 0.0
    assert got[1]["mean_score"] == round(2.8 / 3, 6)
    assert got[1]["pos_rate"] == round(2 / 3, 6)
    exp_ece = 0.5 * (0.2 / 3) + 0.5 * abs(2.8 / 3 - 2 / 3)
    assert abs(got[0]["ece"] - round(exp_ece, 6)) <= 1e-6

    # perfectly calibrated two-bin score -> ECE 0
    cal = [(0.0, 0), (0.0, 0), (1.0, 1), (1.0, 1)]
    got = calibration_bins(
        spark.createDataFrame(cal, "s double, y int"), "s", "y", 2
    ).first()
    assert got["ece"] == 0.0


def test_quantile_normalize_pinned_values(spark):
    """Quantile normalization invariants on constructed groups: two
    identical groups map onto themselves (identity); two shifted
    groups map onto the SAME pooled values (the whole point —
    batch-effect removal), with the interpolated midpoint where the
    pooled CDF jumps between the groups; tied values share one
    normalized value; a single-row group maps to the pooled median
    position p = 0.5."""
    from pandas_etl_spark.operators.quality import quantile_normalize

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        out = quantile_normalize(df, "v", "g", "norm")
        return {(r["g"], r["v"]): r["norm"] for r in out.collect()}

    # identical groups -> identity
    got = run([("a", 1.0), ("a", 2.0), ("a", 3.0),
               ("b", 1.0), ("b", 2.0), ("b", 3.0)])
    for (g, v), norm in got.items():
        assert norm == v, (g, v, norm)

    # shifted groups -> same pooled marginal for both
    got = run([("a", 1.0), ("a", 2.0), ("a", 3.0),
               ("b", 11.0), ("b", 12.0), ("b", 13.0)])
    # pooled sorted: [1,2,3,11,12,13]; p=0/.5/1 -> 1, (3+11)/2, 13
    for g in ("a", "b"):
        vals = sorted(n for (gg, _), n in got.items() if gg == g)
        assert vals == [1.0, 7.0, 13.0], (g, vals)

    # ties share a normalized value; singleton group hits p = 0.5
    got = run([("a", 5.0), ("a", 5.0), ("a", 9.0), ("z", 7.0)])
    assert got[("a", 5.0)] == got[("a", 5.0)]
    # pooled sorted: [5,5,7,9]; singleton p=.5 -> pos 1.5 -> (5+7)/2
    assert got[("z", 7.0)] == 6.0


def test_key_skew_profile_exact_gini(spark):
    """Gini endpoints: uniform counts -> 0; a planted 97%-hot key ->
    2*394/(4*100) - 5/4 = 0.72 exactly; shares follow."""
    from pandas_etl_spark.operators.profile import key_skew_profile

    uniform = spark.createDataFrame(
        [(k, i) for k in "abcd" for i in range(5)], "k string, i long"
    )
    r = key_skew_profile(uniform, "k").first()
    assert (r["n_keys"], r["n_rows"], r["gini"]) == (4, 20, 0.0)

    rows = [("a", i) for i in range(97)] + [("b", 0), ("c", 0), ("d", 0)]
    skewed = spark.createDataFrame(rows, "k string, i long")
    r = key_skew_profile(skewed, "k").first()
    assert r["n_keys"] == 4 and r["n_rows"] == 100
    assert r["max_share"] == 0.97 and r["top10_share"] == 1.0
    assert abs(r["gini"] - 0.72) < 1e-9


def test_ivf_index_matches_inline_ivf(spark, sf_dir, tmp_path):
    """The persisted IVF index path is bit-identical to the inline
    ann_ivf_topk on the same corpus (deterministic fit), and the
    probed read carries a literal cell partition filter."""
    from pandas_etl_spark.functions.similarity import (
        ann_ivf_indexed,
        ann_ivf_topk,
        build_ivf_index,
    )
    from pandas_etl_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=8, kmeans_iters=2)
    inline = sorted(
        tuple(r)
        for r in ann_ivf_topk(
            emb, queries, k=5, n_cells=8, nprobe=3, kmeans_iters=2
        ).collect()
    )
    indexed_df = ann_ivf_indexed(queries, path, k=5, nprobe=3)
    indexed = sorted(tuple(r) for r in indexed_df.collect())
    assert inline == indexed and len(indexed) > 0
    plan = indexed_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0] and " IN " in pf[0]


def test_markov_attribution_pinned_chain(spark):
    """Hand-computed removal effects. Chain: u1 A->conv, u2 A->B->conv,
    u3 B->null (u1 has post-conversion noise that must be truncated).
    P(conv)=2/3; removing A -> 1/6 (RE 3/4); removing B -> 1/3 (RE 1/2);
    shares 0.6 / 0.4."""
    from pandas_etl_spark.operators.attribution import (
        journey_transitions,
        markov_attribution,
    )

    rows = [
        (1, 1, 1, "A"), (1, 2, 2, "purchase"),
        (1, 3, 3, "B"), (1, 4, 4, "B"),  # post-conversion: ignored
        (2, 1, 5, "A"), (2, 2, 6, "B"), (2, 3, 7, "purchase"),
        (3, 1, 8, "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    trans = {
        (r.src, r.dst): r.n
        for r in journey_transitions(df).collect()
    }
    assert trans == {
        ("__start__", "A"): 2,
        ("__start__", "B"): 1,
        ("A", "B"): 1,
        ("A", "__conv__"): 1,
        ("B", "__conv__"): 1,
        ("B", "__null__"): 1,
    }
    out = {r.channel: r for r in markov_attribution(df).collect()}
    assert abs(out["A"].removal_effect - 0.75) < 1e-9
    assert abs(out["B"].removal_effect - 0.5) < 1e-9
    assert abs(out["A"].attribution - 0.6) < 1e-9
    assert abs(out["B"].attribution - 0.4) < 1e-9


def test_markov_attribution_no_conversions(spark):
    """All-NULL chains: zero conversion probability must yield zero
    removal effects and attributions, not a division error."""
    from pandas_etl_spark.operators.attribution import markov_attribution

    rows = [(1, 1, 1, "A"), (1, 2, 2, "B"), (2, 1, 3, "B")]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    out = markov_attribution(df).collect()
    assert {r.channel for r in out} == {"A", "B"}
    assert all(r.removal_effect == 0.0 and r.attribution == 0.0 for r in out)


@pytest.mark.parametrize("hash", ["xxhash64", "md5"])
def test_minhash_lsh_bucket_cap_guards_skew(spark, hash):
    """The max_bucket skew guard: on a normal corpus the default cap is
    inert (identical pairs with cap on/off); a mega-bucket (many docs
    sharing dominant boilerplate shingles that align their per-band
    minima) is dropped by a small cap instead of exploding into B²
    candidate pairs, while pairs that also collide in an uncapped band
    survive — on both hash schemes, which share the guard."""
    from pandas_etl_spark.functions.dedup import minhash_lsh_pairs

    base = [
        (i, " ".join(f"w{i}x{j}q{(i * 31 + j * 7) % 97}" for j in range(40)))
        for i in range(40)
    ]
    near = [(100, base[0][1] + " tail"), (101, base[1][1] + " tail")]
    df = spark.createDataFrame(base + near, "doc_id long, text string")

    def pairs(frame, **kw):
        return {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                frame, threshold=0.5, hash=hash, **kw
            ).collect()
        }

    assert pairs(df, max_bucket=None) == pairs(df, max_bucket=1000)
    expected = {(0, 100), (1, 101)}
    assert expected <= pairs(df, max_bucket=1000)

    # mega-bucket: 60 docs dominated by the same boilerplate — their
    # shingle sets are mostly the shared chrome, so per-band minima
    # coincide and they all land in one bucket per band
    chrome = "this website uses cookies accept terms privacy policy " * 20
    boiler = [(200 + i, chrome + f"x{i}") for i in range(60)]
    bdf = spark.createDataFrame(base + boiler, "doc_id long, text string")
    uncapped = pairs(bdf, max_bucket=None)
    capped = pairs(bdf, max_bucket=30)
    boiler_ids = {i for i, _ in boiler}
    n_unc = sum(1 for a, b in uncapped if a in boiler_ids and b in boiler_ids)
    n_cap = sum(1 for a, b in capped if a in boiler_ids and b in boiler_ids)
    # uncapped: the mega-bucket yields ~C(60,2) boilerplate pairs; the
    # cap kills the oversized buckets (pairs may survive via smaller
    # side buckets, but the quadratic mass is gone)
    assert n_unc > 1000
    assert n_cap < n_unc / 2, (n_cap, n_unc)
    # non-boilerplate docs are untouched by the cap
    assert {p for p in uncapped if p[0] < 200 and p[1] < 200} == {
        p for p in capped if p[0] < 200 and p[1] < 200
    }


def test_sketch_hash_rejects_unknown_scheme(spark):
    """The sketch operators take exactly two hash schemes; any other
    name fails at plan build instead of silently picking one."""
    from pandas_etl_spark.functions.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash_signatures,
    )

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    for op in (minhash_lsh_pairs, minhash_signatures, simhash_signatures):
        with pytest.raises(ValueError, match="murmur3"):
            op(df, hash="murmur3")


def test_portable_hll_raw_branch_accuracy(spark):
    """The portable-HLL twin's RAW-estimator branch (E_raw > 2.5m, the
    regime the ~150-user gate corpus never reaches): 5000 distinct users
    must estimate within the p=8 HLL error envelope (~1.04/√256 ≈ 6.5%,
    allow 3σ ≈ 20%), and the per-type → ALL register merge must hold.
    Runs the registered query body on synthetic events via a temp view
    swap-in is overkill — call the kernel through the catalog function
    on a parquet dir."""
    import duckdb

    from pandas_etl_spark.catalog import ORACLES, QUERIES

    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="hll_raw_")
    rows = [
        (i, "view" if i % 2 == 0 else "click", 1.0, i)
        for i in range(1, 5001)
    ]
    spark.createDataFrame(
        rows, "user_id long, event_type string, value double, event_id long"
    ).selectExpr(
        "event_id", "user_id", "event_type", "value",
        "timestamp('2024-01-01 00:00:00') as ts",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))

    out = {
        r.event_type: r
        for r in QUERIES["hll_distinct_checked"](spark, tmp).collect()
    }
    assert out["ALL"].exact_users == 5000
    # raw regime: E_raw = 5000-ish > 640, and (likely) no empty registers
    assert abs(out["ALL"].rel_err) < 0.20, out["ALL"]
    assert abs(out["view"].rel_err) < 0.20, out["view"]
    # cross-engine: the DuckDB oracle reproduces the raw branch too
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(tmp, 'events.parquet')}/*.parquet')"
    )
    oracle = {
        r[0]: r for r in con.execute(ORACLES["hll_distinct_checked"]).fetchall()
    }
    got = out["ALL"]
    assert oracle["ALL"][1] == 5000
    assert oracle["ALL"][3] == got.hll_est
    assert oracle["view"][3] == out["view"].hll_est

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def test_dup_groups_planted_duplicates(spark):
    """dup_groups on data that actually CONTAINS duplicate groups (four
    rounds of 0 = 0 gate rows proved schema only — r7 VERDICT #3):
    exact clones and normalization-equivalent variants (case, leading/
    trailing/internal whitespace) must land in one group with the
    correct member count and min-id keeper; unique docs must not
    appear."""
    from pandas_etl_spark.functions.dedup import dup_groups

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),          # exact clone
        (3, "  Alpha   BETA gamma  "),    # normalization-equivalent
        (4, "wholly unique document"),
        (5, "second family"),
        (9, "SECOND   FAMILY"),           # normalization-equivalent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.keeper_id: r.n_dups for r in dup_groups(df, "text", "doc_id").collect()
    }
    assert got == {1: 3, 5: 2}


@pytest.mark.parametrize("hash", ["xxhash64", "md5"])
def test_minhash_lsh_mega_family_star_recall(spark, hash):
    """ADVICE r7: a genuine near-dup family LARGER than max_bucket
    shares its per-band minima in EVERY band, so drop-the-bucket
    semantics would emit ZERO pairs for precisely the largest true
    duplicate clusters. The star degradation instead pairs every member
    against the bucket's min id at O(B) cost, and the signature
    verification keeps those pairs (members ≈ representative) — on
    both hash schemes."""
    from pandas_etl_spark.functions.dedup import minhash_lsh_pairs

    body = "the quick brown fox jumps over the lazy dog again " * 8
    fam = [(i, body + f"v{i}") for i in range(40)]
    df = spark.createDataFrame(fam, "doc_id long, text string")

    out = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, threshold=0.5, max_bucket=10, hash=hash
        ).collect()
    }
    # every member reaches the representative (min id) — the family is
    # one connected component downstream, not invisible
    assert {(0, i) for i in range(1, 40)} <= out
    # and the quadratic mass is gone: O(B) star pairs, not C(40,2)
    assert len(out) < 200, len(out)


def test_minhash_lsh_two_family_mega_bucket(spark):
    """VERDICT r8 #6 — the two-families-one-mega-bucket edge: when TWO
    genuine >cap near-dup families share chrome shingles strongly
    enough that some band's minima collide, the star pairs everyone in
    that bucket against the single global min(id); the non-min family's
    members disagree with the other family's representative and that
    band contributes nothing for them. Recovery relies on OTHER bands
    (whose minima come from family-unique shingles) giving the second
    family its own star. This test constructs that exact topology,
    asserts the edge actually occurs (a shared-by-both-families bucket
    larger than the cap), and then asserts BOTH families come out as
    complete, separate connected components."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.functions.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    chrome = (
        "shared boilerplate navigation header footer copyright terms "
        "privacy cookie banner subscribe newsletter sitemap contact " * 4
    )
    ua = "alpha bravo charlie delta echo foxtrot golf hotel india " * 7
    ub = "kilo lima mike november oscar papa quebec romeo sierra " * 7
    fam_a = [(i, ua + chrome + f" va{i}") for i in range(40)]
    fam_b = [(100 + i, ub + chrome + f" wb{i}") for i in range(40)]
    df = spark.createDataFrame(fam_a + fam_b, "doc_id long, text string")
    num_perm, bands, cap = 64, 32, 10
    rows = num_perm // bands

    # precondition — the edge occurs: some (band, bucket) holds members
    # of BOTH families and exceeds the cap (same banding expression the
    # operator builds internally)
    sig = minhash_signatures(df, "text", "doc_id", num_perm, 5, 42)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.col("sig").getItem(b * rows + r)
                                for r in range(rows)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band"), F.col("bb.bucket"))
    mixed = (
        banded.groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("id") < 100, 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("id") >= 100, 1).otherwise(0)).alias("nb"),
        )
        .filter((F.col("n") > cap) & (F.col("na") > 0) & (F.col("nb") > 0))
        .count()
    )
    assert mixed > 0, "test corpus never produced a two-family mega-bucket"

    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df,
            num_perm=num_perm,
            bands=bands,
            threshold=0.5,
            max_bucket=cap,
        ).collect()
    }
    # union-find closure (what dedup_clusters runs downstream)
    parent = {i: i for i in range(40)} | {100 + i: 100 + i for i in range(40)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp_a = {i for i in parent if find(i) == find(0)}
    comp_b = {i for i in parent if find(i) == find(100)}
    assert comp_a == set(range(40)), sorted(comp_a)
    assert comp_b == {100 + i for i in range(40)}, sorted(comp_b)


def test_global_row_number_matches_window(spark):
    """global_row_number == row_number() over the same total order, on a
    multi-partition frame with duplicate sort-key prefixes (uniqueness
    comes from the tie column, as in the percent_rank/ntile queries)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pandas_etl_spark.operators.prefix import global_row_number

    df = spark.range(0, 5000, 1, 16).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("tie")
    )
    got = {
        (r.k, r.tie): r.rn
        for r in global_row_number(
            df, [F.col("k").asc(), F.col("tie").asc()]
        ).collect()
    }
    exp = {
        (r.k, r.tie): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "tie")).cast("bigint")
        ).collect()
    }
    assert got == exp


def test_cosine_topk_flat_scorer_matches_fold(spark, sf_dir):
    """dim=64 (flat scalar-column scorer) must be bit-identical to the
    fold path on conforming vectors: same left-associative IEEE order,
    same rounding, same tie-breaks."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fold = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
        for r in sim.cosine_topk(emb, queries, k=5, dim=None).collect()
    )
    flat = sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
        for r in sim.cosine_topk(emb, queries, k=5, dim=64).collect()
    )
    assert fold == flat


def test_cosine_topk_flat_scorer_ragged_rows_rank_last(spark):
    """A row violating the asserted dim scores NULL and ranks last —
    the degrade-detectably contract (never a wrong number)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.5, 0.5, 0.0]),
        (3, [1.0, 0.0]),  # ragged: shorter than the asserted dim
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sim.cosine_topk(emb, queries, k=3, dim=3).collect()
    by_rank = {r.rank: (r.neighbor_id, r.cosine_sim) for r in got}
    assert by_rank[1][0] == 1 and by_rank[2][0] == 2
    # the ragged vector is last, with a NULL score — not a wrong one
    assert by_rank[3][0] == 3 and by_rank[3][1] is None
