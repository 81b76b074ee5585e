"""Correctness tests for the operator layer: as-of joins, dedup family
(verified against brute force), similarity search (recall vs exact),
multimodal plumbing, and control-plane aggregation."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from hbase_to_mongo_export_spark.operators import asof, dedup, multimodal, similarity
from hbase_to_mongo_export_spark.plans.status import (
    LocalStatusStore,
    completion_status,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


class TestAsof:
    def test_backward_inclusive(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-01T10:00:00"), "a"),
             (1, ts("2024-01-01T12:00:00"), "b"),
             (2, ts("2024-01-01T10:00:00"), "c")],
            "k int, t timestamp, tag string",
        )
        right = spark.createDataFrame(
            [(1, ts("2024-01-01T09:00:00"), 10.0),
             (1, ts("2024-01-01T10:00:00"), 20.0),
             (1, ts("2024-01-01T11:00:00"), 30.0),
             (2, ts("2024-01-01T11:00:00"), 99.0)],
            "k int, t timestamp, v double",
        )
        out = {
            (r.tag): (r.v_right, r.t_right)
            for r in asof.asof_join(
                left, right, key="k", left_ts="t", right_ts="t", value_cols=["v"]
            ).collect()
        }
        # inclusive: equal timestamp matches
        assert out["a"] == (20.0, ts("2024-01-01T10:00:00"))
        assert out["b"] == (30.0, ts("2024-01-01T11:00:00"))
        # no right row at or before ⇒ nulls
        assert out["c"] == (None, None)

    def test_exclusive(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-01T10:00:00"))], "k int, t timestamp"
        )
        right = spark.createDataFrame(
            [(1, ts("2024-01-01T10:00:00"), 1.0),
             (1, ts("2024-01-01T09:00:00"), 2.0)],
            "k int, t timestamp, v double",
        )
        r = asof.asof_join(
            left, right, key="k", left_ts="t", right_ts="t",
            value_cols=["v"], inclusive=False,
        ).collect()[0]
        assert r.v_right == 2.0  # equal-ts right row excluded

    def test_matches_duckdb_asof_semantics_on_random(self, spark):
        import random

        rnd = random.Random(7)
        lrows = [(rnd.randint(1, 5), ts("2024-01-01T00:00:00")
                  + dt.timedelta(minutes=rnd.randint(0, 500)), i) for i in range(80)]
        rrows = [(rnd.randint(1, 5), ts("2024-01-01T00:00:00")
                  + dt.timedelta(minutes=rnd.randint(0, 500)), float(i)) for i in range(60)]
        left = spark.createDataFrame(lrows, "k int, t timestamp, lid int")
        right = spark.createDataFrame(rrows, "k int, t timestamp, v double")
        got = {
            r.lid: r.v_right
            for r in asof.asof_join(
                left, right, key="k", left_ts="t", right_ts="t", value_cols=["v"]
            ).collect()
        }
        # brute-force expectation (ties on right ts: max v among latest ts
        # is not defined — make rrows unique per (k,t))
        latest = {}
        for lk, lt, lid in lrows:
            cands = [(rt, v) for (rk, rt, v) in rrows if rk == lk and rt <= lt]
            latest[lid] = max(cands)[1] if cands else None
        # drop lids where two right rows share the winning (k, ts)
        for lk, lt, lid in lrows:
            winners = [
                (rt, v) for (rk, rt, v) in rrows if rk == lk and rt <= lt
            ]
            if winners:
                best_t = max(w[0] for w in winners)
                if sum(1 for w in winners if w[0] == best_t) > 1:
                    latest.pop(lid, None)
        for lid, expect in latest.items():
            assert got[lid] == expect


class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 0
            (2, "completely different text about spark execution engines"),
            (3, "the quick brown fox jumps over the lazy dog today"),     # exact dup of 0
            (4, "Spark   Execution ENGINES  "),
            (5, "totally unrelated words describing benchmark results"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_dedup(self, spark, docs):
        out = {r.fp: (r.doc_id, r.dup_count) for r in
               dedup.exact_dedup(docs, "doc_id", "text").collect()}
        assert len(out) == 5  # 0 and 3 merge
        assert (0, 2) in out.values()

    def test_ngram_jaccard_finds_near_dup(self, spark, docs):
        pairs = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got and (0, 3) in got and (1, 3) in got
        assert all(a in (0, 1, 3) and b in (0, 1, 3) for a, b in got)
        exact = [r for r in pairs if (r.id_a, r.id_b) == (0, 3)][0]
        assert exact.jaccard == 1.0

    def test_containment_catches_embedded_short_doc(self, spark):
        """A short doc wholly contained in a long one: Jaccard is low but
        containment_ab ~ 1 — the asymmetric case the operator exists for."""
        rows = [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lam mu nu xi omicron pi rho sigma tau upsilon"),
            (2, "totally different words here entirely unrelated content"),
        ]
        docs2 = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r.id_a, r.id_b): r for r in dedup.ngram_containment_pairs(
            docs2, "doc_id", "text", n=3, threshold=0.9
        ).collect()}
        assert (0, 1) in pairs
        r = pairs[(0, 1)]
        assert r.containment_ab == 1.0      # all of 0's shingles inside 1
        assert r.containment_ba < 0.2       # but 1 is much bigger
        assert r.jaccard < 0.2              # which is why Jaccard misses it
        assert (0, 2) not in pairs and (1, 2) not in pairs

    def test_max_df_cap_is_lower_bound_and_drops_ubiquitous(self, spark):
        """The absolute max_df posting cut (round-10 scale guard): capped
        scores are LOWER BOUNDS of exact (no false positives), pairs
        sharing only over-cap shingles vanish, and the cap leaves
        rare-shingle pairs intact."""
        rows = [
            (i, f"common header line alpha beta tail{i // 2} word{i // 2}")
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=2, threshold=0.01
            ).collect()
        }
        capped = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=2, threshold=0.01, max_df=2
            ).collect()
        }
        assert set(capped) <= set(exact)  # never a false positive
        for k, v in capped.items():
            assert v <= exact[k] + 1e-9  # lower bound
        # the (2i, 2i+1) twins share rare tailN/wordN shingles (df=2) —
        # those pairs survive; cross-twin pairs shared only the df=6
        # header shingles and vanish
        assert {(0, 1), (2, 3), (4, 5)} <= set(capped)
        assert all(b - a == 1 for a, b in capped)
        # containment variant: same cut, same lower-bound property
        cont = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_containment_pairs(
                docs, "doc_id", "text", n=2, threshold=0.3, max_df=2
            ).collect()
        }
        assert cont and all(b - a == 1 for a, b in cont)

    def test_minhash_lsh_agrees_with_exact_on_high_jaccard(self, spark, docs):
        lsh = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()}
        # exact dup pair must always survive banding; high-sim pairs should too
        assert (0, 3) in lsh
        assert (0, 1) in lsh and (1, 3) in lsh

    def test_simhash_exact_dup_distance_zero(self, spark, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=10
        ).collect()}
        assert pairs[(0, 3)] == 0
        assert pairs[(0, 1)] <= 10

    def test_shingles_edge_cases(self, spark):
        df = spark.createDataFrame(
            [(0, ""), (1, "one two"), (2, "one two three")],
            "doc_id long, text string",
        )
        rows = df.select(
            "doc_id", F.size(dedup.word_shingles(F.col("text"), 3)).alias("n")
        ).collect()
        got = {r.doc_id: r.n for r in rows}
        assert got == {0: 0, 1: 0, 2: 1}


class TestSimilarity:
    def test_bruteforce_matches_numpy(self, spark, tables, sf_dir):
        import numpy as np

        emb = tables["embeddings"]
        out = similarity.cosine_topk(emb, emb.filter("vec_id < 3"), k=3).collect()
        data = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb.collect()}
        for qid in range(3):
            q = data[qid]
            sims = sorted(
                ((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), -vid), vid)
                for vid, v in data.items() if vid != qid
            )[::-1][:3]
            expect = [vid for _, vid in sims]
            got = [r.neighbor_id for r in sorted(
                (x for x in out if x.query_id == qid), key=lambda r: r.rank)]
            assert got == expect

    def test_bruteforce_refuses_at_scale(self, spark, tables):
        import pytest as _pytest

        emb = tables["embeddings"]
        qs = emb.filter("vec_id < 3")
        with _pytest.raises(ValueError, match="lsh_topk or ivf_topk"):
            similarity.cosine_topk(emb, qs, k=3, max_comparisons=100)
        # opt-out works
        assert (
            similarity.cosine_topk(
                emb.limit(10), qs, k=3, max_comparisons=None
            ).count()
            > 0
        )

    def test_kmeans_guards(self, spark, tables):
        import pytest as _pytest

        emb = tables["embeddings"]
        with _pytest.raises(ValueError, match="rounds >= 1"):
            similarity.kmeans_lloyd(emb, k=4, rounds=0)
        sparse = emb.filter("vec_id % 2 = 0")  # ids not dense 0..k-1
        with _pytest.raises(ValueError, match="dense"):
            similarity.kmeans_lloyd(sparse, k=5, rounds=1)

    def test_lsh_recall_reasonable(self, spark, tables):
        emb = tables["embeddings"]
        qs = emb.filter("vec_id < 20")
        exact = similarity.cosine_topk(emb, qs, k=3).collect()
        approx = similarity.lsh_topk(
            emb, qs, dim=len(emb.first().embedding), k=3, n_planes=6, multiprobe=1
        ).collect()
        exact_set = {(r.query_id, r.neighbor_id) for r in exact}
        approx_set = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_embedding_near_dup_self_consistency(self, spark, tables):
        emb = tables["embeddings"]
        dup = emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        ).limit(5)
        with_dups = emb.select("vec_id", "embedding").unionByName(dup)
        pairs = similarity.embedding_near_dup_pairs(
            with_dups, dim=len(emb.first().embedding), threshold=0.999
        ).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        for r in dup.collect():
            assert (r.vec_id - 10000, r.vec_id) in found


class TestMultimodal:
    def test_image_features_plumbing(self, spark):
        media = multimodal.synthetic_media(spark, n=30)
        out = multimodal.image_features(media, fake=True).collect()
        assert len(out) == 30
        for r in out:
            assert r.n_bytes > 0 and len(r.features) == 8
            assert all(0.0 <= f <= 1.0 for f in r.features)
        # determinism
        again = multimodal.image_features(media, fake=True).collect()
        assert sorted(map(str, out)) == sorted(map(str, again))

    def test_strict_mode_raises(self, spark):
        media = multimodal.synthetic_media(spark, n=4)
        with pytest.raises(Exception):
            multimodal.image_features(media, fake=False).collect()

    def test_ppm_decode_real_roundtrip(self, spark):
        media = multimodal.synthetic_ppm_media(spark, n=5, width=4, height=3)
        out = {r.media_id: r for r in multimodal.ppm_image_stats(media).collect()}
        assert len(out) == 5
        # closed form: pixel i of image id is (id*31 + i) % 256
        for mid, r in out.items():
            assert (r.width, r.height) == (4, 3)
            chans = [[], [], []]
            for i in range(4 * 3 * 3):
                chans[i % 3].append((mid * 31 + i) % 256)
            assert abs(r.mean_r - round(sum(chans[0]) / len(chans[0]), 6)) < 1e-9
            assert abs(r.mean_b - round(sum(chans[2]) / len(chans[2]), 6)) < 1e-9

    def test_ppm_decode_handles_comments_and_rejects_garbage(self, spark):
        import pandas as pd

        # header comments are legal PPM
        payload = b"P6\n# a comment\n2 1\n255\n" + bytes(range(6))
        w, h, r, g, b = multimodal.decode_ppm(payload)
        assert (w, h) == (2, 1)
        assert (r, g, b) == ((0 + 3) / 2, (1 + 4) / 2, (2 + 5) / 2)
        # malformed rows quarantine to nulls, not task failures
        df = spark.createDataFrame(
            [(0, bytearray(b"NOT A PPM"), ("image", "ppm", 1, 1, None, None))],
            multimodal.MEDIA_SCHEMA,
        )
        row = multimodal.ppm_image_stats(df).collect()[0]
        assert row.media_id == 0 and row.width is None and row.mean_r is None

    def test_wav_decode_real_roundtrip(self, spark):
        media = multimodal.synthetic_wav_media(spark, n=3, n_samples=64, rate=16000)
        out = {r.media_id: r for r in multimodal.wav_audio_stats(media).collect()}
        assert len(out) == 3
        for mid, r in out.items():
            vals = [((mid * 7 + s * 13) % 65536) - 32768 for s in range(64)]
            assert r.n_samples == 64 and r.sample_rate == 16000
            assert r.peak == max(abs(v) for v in vals)
            expect_rms = (sum(v * v for v in vals) / 64) ** 0.5
            assert abs(r.rms - round(expect_rms, 6)) < 1e-9

    def test_wav_decode_rejects_non_pcm16(self, spark):
        with pytest.raises(ValueError, match="RIFF"):
            multimodal.decode_wav_pcm16(b"garbage")

    def test_frame_sample(self, spark):
        media = multimodal.synthetic_media(spark, n=12)
        frames = multimodal.frame_sample(media, every_ms=1000, fake=True)
        rows = frames.collect()
        assert rows and all(r.frame_ts_ms % 1000 == 0 for r in rows)
        videos = {r["media_id"]: r for r in media.collect() if r.meta.media_type == "video"}
        per_video = {}
        for r in rows:
            per_video.setdefault(r.media_id, 0)
            per_video[r.media_id] += 1
        for mid, n in per_video.items():
            assert n == -(-videos[mid].meta.duration_ms // 1000)

    def test_media_repartition(self, spark):
        media = multimodal.synthetic_media(spark, n=30)
        out = multimodal.media_repartition(media, target_bytes=1024)
        assert out.count() == 30
        assert out.rdd.getNumPartitions() >= 2


class TestStatus:
    def test_completion_fold(self, spark, tmp_path):
        store = LocalStatusStore(str(tmp_path / "status.jsonl"))
        store.set_status("run1", "coll_a", "Exported", 3)
        store.set_status("run1", "coll_b", "Exported", 2)
        store.set_status("run2", "coll_a", "Exporting", 0)
        store.set_status("run3", "coll_a", "Export_Failed", 0)
        store.set_status("run3", "coll_b", "Exported", 1)
        store.set_status("run4", "coll_a", "Blocked_Topic", 0)
        df = completion_status(store.to_df(spark))
        got = {r.correlation_id: r.run_status for r in df.collect()}
        assert got == {
            "run1": "COMPLETED_SUCCESSFULLY",
            "run2": "IN_PROGRESS",
            "run3": "COMPLETED_UNSUCCESSFULLY",
            "run4": "COMPLETED_UNSUCCESSFULLY",
        }

    def test_increment_exported_count(self, spark, tmp_path):
        store = LocalStatusStore(str(tmp_path / "status.jsonl"))
        store.increment_exported_count("run1", "c")
        store.increment_exported_count("run1", "c")
        df = store.to_df(spark)
        assert df.collect()[0].files_exported == 2


class TestIVF:
    def test_ivf_recall_reasonable(self, spark, tables):
        from hbase_to_mongo_export_spark.operators import similarity as sim

        emb = tables["embeddings"]
        qs = emb.filter("vec_id < 20")
        exact = sim.cosine_topk(emb, qs, k=3).collect()
        approx = sim.ivf_topk(emb, qs, k=3, n_centroids=8, nprobe=4).collect()
        exact_set = {(r.query_id, r.neighbor_id) for r in exact}
        approx_set = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.4, f"IVF recall too low: {recall}"

    def test_ivf_deterministic(self, spark, tables):
        from hbase_to_mongo_export_spark.operators import similarity as sim

        emb = tables["embeddings"]
        qs = emb.filter("vec_id < 5")
        a = sorted(map(str, sim.ivf_topk(emb, qs, k=3).collect()))
        b = sorted(map(str, sim.ivf_topk(emb, qs, k=3).collect()))
        assert a == b


BATCH_CONFS = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32",
    # one file per partition, so the empty file is an empty partition
    "spark.sql.files.openCostInBytes": str(128 << 20),
}


def _partitionings(spark, tmp_path, rows):
    """(n, DataFrame) for the (vec_id, embedding) ``rows`` written as one
    parquet file, and as six files plus an empty one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    chunks = np.array_split(np.arange(len(rows)), 6)
    layouts = {1: [rows], 7: [[rows[i] for i in c] for c in chunks] + [[]]}
    for n, parts in layouts.items():
        (tmp_path / f"p{n}").mkdir()
        for k, part in enumerate(parts):
            cols = [[r[0] for r in part], [r[1] for r in part]]
            table = pa.table(cols, schema=schema)
            pq.write_table(table, tmp_path / f"p{n}" / f"part-{k}.parquet")
        emb = spark.read.parquet(str(tmp_path / f"p{n}"))
        assert emb.rdd.getNumPartitions() == n
        yield n, emb


def _set_confs(spark, confs):
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    return saved


class TestIVFPQPerBatchTopK:
    """``ivfpq_candidates`` cuts the top-k inside each Arrow batch. The
    cut is exact: the rows are the same at 1 and at 7 input partitions
    (one of them empty), whose 32-row batches split the table
    differently, and equal a numpy brute force of the same definition.
    Eight copies of probe 0 lead the first batch in descending id order,
    so the cut binds there and must keep the lowest ids."""

    K = 5
    # coarse lists 0-4 without the null 3, codebook 0-15 without 3, 5, 11
    INDEX = dict(n_probes=3, n_codes=16, n_lists=5)

    @staticmethod
    def _table():
        rng = np.random.default_rng(11)
        vecs = rng.integers(-64, 65, size=(300, 64)) / 64  # x * 64 is exact
        vecs[200:292] = vecs[50:142]  # same vectors under other ids: ties
        vecs[292:] = vecs[0]  # eight copies of probe 0
        vecs[2] = 4.0  # probe 2 is alone in its coarse list
        vecs[4] = vecs[1]  # a coarse centroid tie: list 1 wins over list 4
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        rows[3] = (3, None)
        rows[5] = (5, [])
        rest = [rows[i] for i in rng.permutation(292) if i != 11]  # no id 11
        return rows[:291:-1] + rest

    def _brute_force(self, rows, nprobe):
        """IVF+PQ rows, exact-L2 rows (probe_id, neighbor_id, rank, l2_sq)
        and the IVF candidate count."""
        q = {i: np.round(np.array(v) * 64).astype(np.int64) + 128 for i, v in rows if v}
        subs = [slice(s, s + 8) for s in range(0, 64, 8)]

        def d2(a, b):
            return int(((a - b) ** 2).sum())

        def nearest(x, ids, s=slice(None)):
            return min(ids, key=lambda c: (d2(x[s], q[c][s]), c))

        book = [i for i in q if i < self.INDEX["n_codes"]]
        coarse = [i for i in q if i < self.INDEX["n_lists"]]
        codes = {i: [nearest(v, book, s) for s in subs] for i, v in q.items()}
        lists = {i: nearest(v, coarse) for i, v in q.items()}
        search, exact, n_cands = [], [], 0
        for p in sorted(i for i in q if i < self.INDEX["n_probes"]):

            def adc(x):
                return sum(d2(q[p][s], q[c][s]) for s, c in zip(subs, codes[x]))

            def by_l2(xs):
                best = sorted(xs, key=lambda x: (d2(q[p], q[x]), x))[: self.K]
                return [(p, x, r, d2(q[p], q[x])) for r, x in enumerate(best, 1)]

            scanned = sorted(coarse, key=lambda c: (d2(q[p], q[c]), c))[:nprobe]
            cands = [x for x in q if x != p and lists[x] in scanned]
            n_cands += len(cands)
            search += by_l2(sorted(cands, key=lambda x: (adc(x), x))[: self.K])
            exact += by_l2(x for x in q if x != p)
        return sorted(search), sorted(exact), n_cands

    @pytest.mark.parametrize("nprobe", [1, 2])
    def test_same_rows_at_1_and_7_partitions_as_brute_force(
        self, spark, tmp_path, nprobe
    ):
        from pyspark.sql import Window

        rows = self._table()
        by_l2 = Window.partitionBy("pid").orderBy("edist", "xid")
        saved = _set_confs(spark, BATCH_CONFS)
        try:
            got = {}
            for n, emb in _partitionings(spark, tmp_path, rows):
                qz = similarity.quantize_for_kmeans(emb, "vec_id", "embedding")
                search = similarity.ivfpq_search(
                    qz, nprobe=nprobe, k_adc=self.K, k=self.K, **self.INDEX
                )
                ivf = similarity.ivfpq_candidates(
                    qz, nprobe=nprobe, keep=self.K, **self.INDEX
                )
                exact = (
                    similarity.ivfpq_candidates(qz, 3, keep=self.K)
                    .withColumn("rank", F.row_number().over(by_l2))
                    .filter(F.col("rank") <= self.K)
                    .select("pid", "xid", "rank", "edist")
                )
                got[n] = [sorted(map(tuple, df.collect())) for df in (search, exact)]
                got[n].append(ivf.count())
        finally:
            _set_confs(spark, saved)
        search, exact, n_cands = self._brute_force(rows, nprobe)
        assert got[1][:2] == got[7][:2] == [search, exact]
        # the batches did cut, and the table holds what it is for:
        # distance ties between ids and, at nprobe=1, a probe whose list
        # holds no candidate
        assert max(got[1][2], got[7][2]) < n_cands
        assert len({(p, d) for p, _, _, d in search}) < len(search)
        assert {p for p, *_ in search} == ({0, 1} if nprobe == 1 else {0, 1, 2})


class TestNearestCentroidKernel:
    """``kmeans_lloyd`` and ``kcenter_greedy`` on the Arrow-batch kernels
    give the same rows at 1 and at 7 input partitions (one of them
    empty, 32-row batches) and equal a numpy brute force. The table is
    ten 2-d points, twelve copies each under shuffled ids, embedded in
    20 dimensions, plus a null and an empty vector. Seeds 2 and 3 are
    equidistant from point 5, and cluster 1 loses every member in round
    2."""

    POINTS = [(6, 1), (5, 1), (8, 5), (7, 4), (9, 4)]
    POINTS += [(1, 11), (2, 5), (11, 7), (0, 7), (10, 3)]
    DIM, AXES, COPIES, K = 20, (3, 17), 12, 4

    def _table(self):
        rng = np.random.default_rng(5)
        n = len(self.POINTS)
        ids = np.concatenate([np.arange(n), n + rng.permutation(n * (self.COPIES - 1))])
        vecs = {}
        for i, pid in zip(ids, np.tile(np.arange(n), self.COPIES)):
            v = np.zeros(self.DIM)
            v[list(self.AXES)] = np.array(self.POINTS[pid]) / 64  # x * 64 is exact
            vecs[int(i)] = [float(x) for x in v]
        rows = [(i, vecs[i]) for i in rng.permutation(sorted(vecs)).tolist()]
        return rows + [(len(rows), None), (len(rows) + 1, [])]

    @staticmethod
    def _quantized(rows):
        return {
            i: np.round(np.array(v) * 64).astype(np.int64) + 128 for i, v in rows if v
        }

    def _lloyd(self, q, rounds):
        """(cluster_id, n_members, centroid) rows, the round-1 ties and the
        clusters each round emptied."""
        cents = {c: q[c] for c in sorted(q) if c < self.K}
        ties, emptied = 0, []
        for _ in range(rounds):
            members = {}
            for i, x in q.items():
                d = {c: int(((x - m) ** 2).sum()) for c, m in cents.items()}
                tied = [c for c in d if d[c] == min(d.values())]
                ties += len(tied) > 1 and not emptied
                members.setdefault(min(tied), []).append(x)
            emptied.append(sorted(set(cents) - set(members)))
            cents = {c: sum(xs) // len(xs) for c, xs in sorted(members.items())}
            sizes = {c: len(xs) for c, xs in members.items()}
        rows = [(c, sizes[c], m.tolist()) for c, m in cents.items()]
        return rows, ties, emptied

    @staticmethod
    def _kcenter(q, k):
        centers = [min(q)]
        while True:
            mind = {
                i: min(int(((x - q[c]) ** 2).sum()) for c in centers)
                for i, x in q.items()
            }
            far = min((-d, i) for i, d in mind.items() if i not in centers)
            if len(centers) == k:
                return centers, -far[0]
            centers.append(far[1])

    def test_same_rows_at_1_and_7_partitions_as_brute_force(self, spark, tmp_path):
        rows = self._table()
        saved = _set_confs(spark, BATCH_CONFS)
        try:
            got = {}
            for n, emb in _partitionings(spark, tmp_path, rows):
                qz = similarity.quantize_for_kmeans(emb, "vec_id", "embedding")
                lloyd = [
                    similarity.kmeans_lloyd(emb, k=self.K, rounds=r) for r in (1, 3)
                ]
                got[n] = [list(map(tuple, df.collect())) for df in lloyd]
                # 12 centers is more than the 10 distinct points: the last
                # picks are zero-distance ties
                got[n] += [similarity.kcenter_greedy(qz, k) for k in (5, 12)]
        finally:
            _set_confs(spark, saved)
        q = self._quantized(rows)
        (one, ties, _), (three, _, emptied) = self._lloyd(q, 1), self._lloyd(q, 3)
        kcenter = [(*self._kcenter(q, k), len(rows)) for k in (5, 12)]
        assert got[1] == got[7] == [one, three, *kcenter]
        # the table holds what it is for: seeds 2 and 3 tie for the copies
        # of point 5, cluster 1 empties in round 2, and the centers picked
        # past the last distinct point are its lowest-id copies
        assert ties == self.COPIES and emptied == [[], [1], []]
        assert [c for c, *_ in three] == [0, 2, 3]
        (five, radius, _), (twelve, zero, _) = kcenter
        assert radius > 0 and zero == 0 and twelve[:5] == five
        assert len(set(twelve)) == 12 and sorted(twelve[10:]) == twelve[10:]


class TestControlPlaneWiring:
    def test_run_export_records_status_and_messages(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.plans.export import ExportConfig, run_export
        from hbase_to_mongo_export_spark.plans.status import (
            LocalNotifier,
            LocalStatusStore,
            completion_status,
        )
        from hbase_to_mongo_export_spark.sources import fixtures
        import json as _json

        store = LocalStatusStore(str(tmp_path / "status.jsonl"))
        notifier = LocalNotifier(str(tmp_path / "messages.jsonl"))
        src = fixtures.source_records(spark, n=50)
        cfg = ExportConfig(
            topic="db.database.collection",
            output_dir=str(tmp_path / "out"),
            manifest_dir=str(tmp_path / "manifest"),
        )
        res = run_export(
            spark, src, cfg, correlation_id="corr1",
            status_store=store, notifier=notifier,
        )
        assert res.status == "Exported"
        df = store.to_df(spark)
        row = df.filter("collection = 'collection'").collect()[0]
        assert row.status == "Exported"
        assert row.files_exported == len(res.files) > 0
        msgs = [_json.loads(l) for l in open(tmp_path / "messages.jsonl")]
        snapshot_msgs = [m for m in msgs if m["kind"] == "snapshot_file"]
        assert len(snapshot_msgs) == len(res.files)
        assert snapshot_msgs[0]["message_group"] == "db_database_collection"
        comp = completion_status(store.to_df(spark)).collect()[0]
        assert comp.run_status == "COMPLETED_SUCCESSFULLY"

    def test_run_export_blocked_records_status(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.plans.export import ExportConfig, run_export
        from hbase_to_mongo_export_spark.plans.status import (
            LocalStatusStore,
            completion_status,
        )
        from hbase_to_mongo_export_spark.sources import fixtures

        store = LocalStatusStore(str(tmp_path / "status.jsonl"))
        src = fixtures.source_records(spark, n=5)
        cfg = ExportConfig(
            topic="db.blocked.topic",
            output_dir=str(tmp_path / "out"),
            blocked_topics="db.blocked.topic",
        )
        res = run_export(spark, src, cfg, correlation_id="c2", status_store=store)
        assert res.status == "Blocked_Topic"
        comp = completion_status(store.to_df(spark)).collect()[0]
        assert comp.run_status == "COMPLETED_UNSUCCESSFULLY"


class TestSkew:
    def test_salted_agg_matches_plain(self, spark, tables):
        from hbase_to_mongo_export_spark.operators.skew import salted_agg

        ev = tables["events"]
        salted = salted_agg(
            ev, "user_id",
            {"n": ("count", "*"), "total": ("sum", "value"),
             "lo": ("min", "value"), "hi": ("max", "value")},
        )
        plain = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
            F.min("value").alias("lo"), F.max("value").alias("hi"),
        )
        s = {r.user_id: (r.n, round(r.total, 6), r.lo, r.hi) for r in salted.collect()}
        p = {r.user_id: (r.n, round(r.total, 6), r.lo, r.hi) for r in plain.collect()}
        assert s == p

    def test_salted_broadcast_left_matches_plain(self, spark, tables):
        from hbase_to_mongo_export_spark.operators.skew import salted_broadcast_left

        cust = tables["customer"].select("c_custkey", "c_nationkey")
        nation = tables["nation"]
        salted = salted_broadcast_left(
            cust, nation.withColumnRenamed("n_nationkey", "c_nationkey"),
            key="c_nationkey", n_salt=8,
        )
        plain = cust.join(
            nation.withColumnRenamed("n_nationkey", "c_nationkey"), "c_nationkey"
        )
        assert salted.count() == plain.count()
        s = sorted(map(str, salted.select("c_custkey", "n_name").collect()))
        p = sorted(map(str, plain.select("c_custkey", "n_name").collect()))
        assert s == p


class TestAudio:
    def test_audio_features_plumbing(self, spark):
        out = multimodal.audio_features(
            multimodal.synthetic_media(spark, n=30), fake=True
        ).collect()
        assert out and all(r.n_bytes > 0 and 0 <= r.rms <= 1 for r in out)
        again = multimodal.audio_features(
            multimodal.synthetic_media(spark, n=30), fake=True
        ).collect()
        assert sorted(map(str, out)) == sorted(map(str, again))


class TestNotifierParity:
    def test_all_message_kinds(self, spark, tmp_path):
        import json as _json

        from hbase_to_mongo_export_spark.plans.status import LocalNotifier

        n = LocalNotifier(str(tmp_path / "m.jsonl"))
        n.notify_snapshot_sender("db.a.b", "k1")
        n.notify_no_files_exported("db.a.b")
        n.notify_completion("c1", "COMPLETED_SUCCESSFULLY")
        n.notify_adg_trigger("c1", "s3://x/prefix", "full", "2026-08-13")
        n.notify_monitoring("c1", "Export failed", severity="High")
        n.notify_data_egress("s3://x/prefix/file1")
        kinds = [_json.loads(l)["kind"] for l in open(tmp_path / "m.jsonl")]
        assert kinds == [
            "snapshot_file", "no_files_exported", "completion",
            "adg_trigger", "monitoring", "data_egress",
        ]


class TestFinishRun:
    def test_finish_run_messages(self, spark, tmp_path):
        import json as _json

        from hbase_to_mongo_export_spark.plans.status import (
            LocalNotifier, LocalStatusStore, finish_run,
        )

        store = LocalStatusStore(str(tmp_path / "s.jsonl"))
        notifier = LocalNotifier(str(tmp_path / "m.jsonl"))
        store.set_status("c1", "a", "Exported", 2)
        store.set_status("c1", "b", "Exported", 1)
        st = finish_run(spark, "c1", store, notifier,
                        s3_prefix="s3://x/p", export_date="2026-08-13")
        assert st == "COMPLETED_SUCCESSFULLY"
        kinds = [_json.loads(l)["kind"] for l in open(tmp_path / "m.jsonl")]
        assert kinds == ["completion", "monitoring", "adg_trigger"]

        store.set_status("c2", "a", "Export_Failed")
        st2 = finish_run(spark, "c2", store, notifier)
        assert st2 == "COMPLETED_UNSUCCESSFULLY"
        kinds = [_json.loads(l)["kind"] for l in open(tmp_path / "m.jsonl")]
        assert kinds == ["completion", "monitoring", "adg_trigger",
                         "completion", "monitoring"]


class TestTableUnavailable:
    def test_cli_missing_source(self, spark, tmp_path):
        import json as _json
        import subprocess, sys

        out = subprocess.run(
            [sys.executable, "-m", "hbase_to_mongo_export_spark", "export",
             "--topic", "does.not.exist",
             "--source", str(tmp_path / "nope"),
             "--output", str(tmp_path / "out"),
             "--status-file", str(tmp_path / "status.jsonl")],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
        )
        assert out.returncode == 1
        res = _json.loads(out.stdout.strip().splitlines()[-1])
        assert res["status"] == "Table_Unavailable"
        lines = [_json.loads(l) for l in open(tmp_path / "status.jsonl")]
        assert lines[-1]["status"] == "Table_Unavailable"


class TestWinnowing:
    def test_matches_python_model(self, spark):
        rows = [
            (0, "a b c d e f g h i j"),
            (1, "one two"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in dedup.winnow_fingerprints(df, "doc_id", "text", k=5, window=4).collect():
            got.setdefault(r.doc_id, set()).add(r.fingerprint)

        # Python model using Spark's own xxhash64 for hash parity
        from pyspark.sql import Row

        for doc_id, text in rows:
            words = " ".join(text.lower().split()).split(" ")
            shingles = [
                " ".join(words[i : i + 5]) for i in range(len(words) - 4)
            ] if len(words) >= 5 else []
            if not shingles:
                assert doc_id not in got
                continue
            hdf = spark.createDataFrame([Row(s=s) for s in shingles])
            hashes = [
                r.h for r in hdf.select(F.xxhash64("s").alias("h")).collect()
            ]
            expect = set()
            for i in range(len(hashes)):
                expect.add(min(hashes[i : i + 4]))
            assert got[doc_id] == expect, doc_id


def test_connected_components_chain_triangle_singleton(spark):
    from hbase_to_mongo_export_spark.operators.dedup import connected_components

    # chain 1-2-3-4, triangle 10-11-12, isolated node 20 (via nodes df)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        ["id_a", "id_b"],
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20]], ["id"])
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10), (20, 20)}


def test_two_phase_cc_matches_propagation(spark):
    """Alternating large-star/small-star CC must agree with min-label
    propagation on adversarial shapes: a long chain (worst case for
    propagation, the two-phase algorithm's reason to exist), a dense
    clique, a star rooted at the LARGEST id, and disjoint pairs."""
    import random

    from hbase_to_mongo_export_spark.operators.dedup import connected_components
    from hbase_to_mongo_export_spark.operators.graph import (
        connected_components_two_phase,
    )

    edges = []
    edges += [(i, i + 1) for i in range(100, 120)]          # 21-node chain
    edges += [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    edges += [(399, i) for i in range(390, 399)]            # star, max-id hub
    edges += [(500 + 2 * i, 501 + 2 * i) for i in range(5)]  # disjoint pairs
    rng = random.Random(7)
    rng.shuffle(edges)
    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = {
        (r["id"], r["component"]) for r in connected_components(e).collect()
    }
    got = {
        (r["id"], r["component"])
        for r in connected_components_two_phase(e).collect()
    }
    assert got == want


class TestChunkEdgeCases:
    """Edge behavior of chunk_dedup_20word on the real query path: only
    COMPLETE 20-word chunks count; short/empty docs contribute none."""

    def test_chunk_counts(self, spark, tmp_path):
        from hbase_to_mongo_export_spark import queries as registry

        rows = [
            (1, "", "en", "s", 0),               # empty → no chunks
            (2, ("w " * 19).strip(), "en", "s", 0),   # 19 words → none
            (3, ("w " * 20).strip(), "en", "s", 0),   # 20 words → 1 chunk
            (4, ("w " * 41).strip(), "en", "s", 0),   # 41 → 2, trailing dropped
            (5, ("w " * 20).strip(), "en", "s", 0),   # duplicate of doc 3's chunk
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = registry.queries()["chunk_dedup_20word"](spark, str(tmp_path)).collect()
        # docs 3, 4, 5 all produce the same all-'w' 20-gram: 4 occurrences
        # ("w"*20 appears once in docs 3/5 and twice in doc 4), 3 docs
        assert len(out) == 1
        assert out[0].n_occurrences == 4
        assert out[0].n_docs == 3


class TestSequencePacking:
    def test_packing_invariants(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from hbase_to_mongo_export_spark.operators.packing import pack_documents
        from hbase_to_mongo_export_spark.sources.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        budget = 128
        packed = pack_documents(docs, budget=budget).cache()
        try:
            eligible = docs.filter(
                (F.size(F.split(F.trim("text"), r"\s+")) <= budget)
                & (F.trim("text") != "")
            ).count()
            # every eligible doc packed exactly once
            assert packed.count() == eligible
            assert packed.select("doc_id").distinct().count() == eligible
            # no pack exceeds the budget
            over = (
                packed.groupBy("pack_id")
                .agg(F.sum("n_tokens").alias("fill"))
                .filter(F.col("fill") > budget)
                .count()
            )
            assert over == 0
            # packs are meaningfully full (first-fit-decreasing, not 1 doc/pack)
            stats = packed.groupBy("pack_id").agg(
                F.sum("n_tokens").alias("fill")
            ).agg(F.avg("fill").alias("avg_fill")).first()
            assert stats.avg_fill > budget * 0.5
        finally:
            packed.unpersist()

    def test_packing_deterministic(self, spark, sf_dir):
        from hbase_to_mongo_export_spark.operators.packing import pack_documents
        from hbase_to_mongo_export_spark.sources.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        a = sorted(map(tuple, pack_documents(docs, budget=128).collect()))
        b = sorted(map(tuple, pack_documents(docs, budget=128).collect()))
        assert a == b


class TestEwmaProperty:
    def test_ewma_matches_pandas_reference(self, spark):
        """The windowed EWMA fold (alpha=0.5, 10-row window) equals a
        straightforward pandas implementation on random series."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        rng = np.random.RandomState(7)
        rows = []
        for uid in range(5):
            n = int(rng.randint(1, 25))
            for i in range(n):
                rows.append((uid, i, float(rng.rand()) * 100))
        df = spark.createDataFrame(rows, "user_id long, seq long, value double")

        wf = Window.partitionBy("user_id").orderBy("seq").rowsBetween(-9, 0)
        ewma = F.expr(
            """
            aggregate(transform(sequence(0, size(vs) - 1),
                        i -> element_at(vs, i + 1)
                             * power(0.5D, CAST(size(vs) - 1 - i AS DOUBLE))),
                      0.0D, (a, x) -> a + x)
            / aggregate(transform(sequence(0, size(vs) - 1),
                          i -> power(0.5D, CAST(size(vs) - 1 - i AS DOUBLE))),
                        0.0D, (a, x) -> a + x)
            """
        )
        got = {
            (r.user_id, r.seq): r.e
            for r in df.select(
                "user_id", "seq", F.collect_list("value").over(wf).alias("vs")
            ).select("user_id", "seq", ewma.alias("e")).collect()
        }

        pdf = pd.DataFrame(rows, columns=["user_id", "seq", "value"])
        for (uid, seq), spark_val in got.items():
            s = pdf[pdf.user_id == uid].sort_values("seq")
            window = s[s.seq <= seq].tail(10)["value"].to_numpy()
            weights = 0.5 ** np.arange(len(window) - 1, -1, -1)
            want = float(np.dot(window, weights) / weights.sum())
            assert abs(spark_val - want) < 1e-9, (uid, seq)


class TestPrefixFilterJoin:
    """jaccard_prefix_filter_pairs must equal the exhaustive inverted-index
    join (ngram_jaccard_pairs) — the recall property that justifies the
    prefix filter at scale."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different text about spark execution engines"),
            (3, "the quick brown fox jumps over the lazy dog today"),
            (4, "a b c d e f g h i j"),
            (5, "a b c d e f g h i k"),
            (6, "one two"),  # < n words: no shingles, must not appear
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("threshold", [0.2, 0.5, 0.8])
    def test_equals_exhaustive(self, spark, docs, threshold):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.jaccard_prefix_filter_pairs(
                docs, "doc_id", "text", n=3, threshold=threshold
            ).collect()
        }
        want = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=threshold
            ).collect()
        }
        assert got == want

    def test_exact_dup_jaccard_one(self, spark, docs):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.jaccard_prefix_filter_pairs(
                docs, "doc_id", "text", n=3, threshold=0.9
            ).collect()
        }
        assert got[(0, 3)] == 1.0


class TestMinhashEstimate:
    def test_estimate_close_to_exact_and_exact_dup_is_one(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "the quick brown fox jumps over the lazy dog today"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.id_a, r.id_b): r
            for r in dedup.minhash_estimate_pairs(
                docs, "doc_id", "text", n=3
            ).collect()
        }
        r = out[(0, 3)]
        assert r.est_jaccard == 1.0 and r.jaccard == 1.0 and r.abs_err == 0.0
        for r in out.values():
            assert round(abs(r.est_jaccard - r.jaccard), 6) == pytest.approx(
                r.abs_err, abs=1e-9
            )
            # 64 hashes: estimator std ~ sqrt(j(1-j)/64) <= 0.0625; allow 4 sigma
            assert r.abs_err <= 0.25


class TestWinnowOverlap:
    def test_contained_doc_scores_full_overlap(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (0, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (1, base),  # fully contained prefix of 0
            (2, "unrelated words entirely distinct from anything else here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.id_a, r.id_b): r.overlap
            for r in dedup.winnow_overlap_pairs(
                docs, "doc_id", "text", min_shared=1
            ).collect()
        }
        assert (0, 1) in out
        # every fingerprint of the short doc that reflects shared text should
        # appear in the long doc; boundary windows may differ, so allow slack
        assert out[(0, 1)] >= 0.5
        assert (0, 2) not in out and (1, 2) not in out


class TestTfidfCosine:
    def test_identical_docs_cosine_one_and_stoplist(self, spark):
        rows = [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.id_a, r.id_b): r.cosine
            for r in similarity.tfidf_cosine_pairs(
                docs, "doc_id", "text", threshold=0.0, max_df_ratio=0.9
            ).collect()
        }
        assert out[(0, 1)] == 1.0
        assert (0, 2) not in out  # no shared surviving terms
        # max_df: a term in every doc is cut; with ratio 0.9 and a term in
        # 3/3 docs the pair list must not include cross-group pairs
        rows2 = rows + [(3, "alpha epsilon")]
        docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
        out2 = {
            (r.id_a, r.id_b)
            for r in similarity.tfidf_cosine_pairs(
                docs2, "doc_id", "text", threshold=0.0, max_df_ratio=0.5
            ).collect()
        }
        # 'alpha' is now in 3/4 docs (df ratio 0.75 > 0.5) so it is cut and
        # cannot link doc 3 to docs 0/1; 'epsilon' (df ratio 0.5) survives
        # and still links docs 2 and 3
        assert (0, 3) not in out2 and (1, 3) not in out2
        assert (2, 3) in out2

    def test_max_df_count_is_absolute_scale_guard(self, spark):
        """The ABSOLUTE cap (round-10): unlike the fractional cut, a
        count cap binds regardless of corpus size — terms with df above
        it never enter the index join, and surviving pairs' cosines are
        over the PRUNED vectors (norms after the cut)."""
        # 'common' in 5/6 docs (df=5, idf ln(6/5) > 0 — a df=6 term
        # would idf to 0 and never link anything); tokenN rare (df=3)
        rows = [
            (i, ("common " if i < 5 else "") + f"token{i % 2}")
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        full = {
            (r.id_a, r.id_b)
            for r in similarity.tfidf_cosine_pairs(
                docs, "doc_id", "text", threshold=0.01, max_df_ratio=1.0
            ).collect()
        }
        # 'common' links every pair within 0..4; doc 5 links only via
        # its parity token
        assert full == {
            (a, b) for a in range(6) for b in range(a + 1, 6)
            if (a < 5 and b < 5) or a % 2 == b % 2
        }
        # cap 3: the df=5 term is cut, df=3 parity tokens survive — only
        # same-parity pairs remain, at cosine 1.0 of the pruned vectors
        capped = {
            (r.id_a, r.id_b): r.cosine
            for r in similarity.tfidf_cosine_pairs(
                docs, "doc_id", "text", threshold=0.01, max_df_ratio=1.0,
                max_df_count=3,
            ).collect()
        }
        assert set(capped) == {
            (a, b) for a in range(6) for b in range(a + 1, 6)
            if a % 2 == b % 2
        }
        assert all(c == 1.0 for c in capped.values())


class TestPagerank:
    def test_star_graph_center_dominates_and_mass_conserved(self, spark):
        from hbase_to_mongo_export_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 6)] + [(10, 11)],
            "src long, dst long",
        )
        out = {r.node: r.rank_scaled for r in graph.pagerank(edges).collect()}
        # star center collects mass from 5 leaves; isolated pair splits evenly
        assert out[0] > out[1] == out[2] == out[3] == out[4] == out[5]
        assert out[10] == out[11]
        # total mass stays within integer-truncation loss of SCALE
        total = sum(out.values())
        assert graph.SCALE * 0.97 <= total <= graph.SCALE


class TestGraphOperators:
    """Unit-level coverage of operators/graph.py building blocks (the
    registry checks them end-to-end via the oracle queries; these pin the
    primitives on hand-built graphs)."""

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "u long, v long")

    def test_top_k_sparsifier_bounds_degree(self, spark):
        from hbase_to_mongo_export_spark.operators import graph as g

        # star graph: node 0 co-occurs with 1..6, weights descending
        pairs = spark.createDataFrame(
            [(0, i, 10 - i) for i in range(1, 7)], "u long, v long, c long"
        )
        e = g.top_k_cooccurrence_edges(pairs, k=3)
        rows = {(r.u, r.v) for r in e.collect()}
        # node 0 keeps its 3 strongest (1,2,3); leaves each keep their only
        # partner (node 0), so 'either endpoint' retains all 6 edges
        assert {(0, 1), (0, 2), (0, 3)} <= rows
        assert len(rows) == 6
        deg = {}
        for u, v in rows:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        assert all(d <= 2 * 3 for d in deg.values())

    def test_label_propagation_converges_two_cliques(self, spark):
        from hbase_to_mongo_export_spark.operators import graph as g

        # two triangles joined by nothing; seeds: one node per clique
        # carries a distinct label, others carry high self labels
        edges = self._edges(
            spark, [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
        )
        labels = spark.createDataFrame(
            [(0, 100), (1, 101), (2, 102), (10, 200), (11, 201), (12, 202)],
            "node long, label long",
        )
        out = {r.node: r.label for r in g.label_propagation(edges, labels, rounds=3).collect()}
        # min-label ties propagate the lowest seed within each clique
        assert len({out[0], out[1], out[2]}) == 1
        assert len({out[10], out[11], out[12]}) == 1
        assert out[0] != out[10]

    def test_bfs_hops_path_graph(self, spark):
        from hbase_to_mongo_export_spark.operators import graph as g

        edges = self._edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)])
        out = {r.node: r.hops for r in g.bfs_hops(edges, source=0, max_hops=4).collect()}
        assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # node 5 beyond max_hops


class TestMultimodalFingerprints:
    def test_dhash_quarantines_malformed_payloads(self, spark):
        """A garbage payload yields a null-hash row (quarantine), never a
        task failure; valid payloads still hash."""
        good = multimodal.synthetic_ppm_media(spark, n=2).select(
            "media_id", "payload"
        )
        bad = spark.createDataFrame(
            [(99, bytearray(b"NOT A PPM"))], "media_id long, payload binary"
        )
        out = {r.media_id: (r.dhash_hi, r.dhash_lo)
               for r in multimodal.ppm_image_dhash(
                   good.unionByName(bad)).collect()}
        assert out[99] == (None, None)
        assert all(v != (None, None) for k, v in out.items() if k != 99)

    def test_dhash_identical_images_same_hash(self, spark):
        """Same payload twice -> identical hash (the near-dup contract)."""
        media = multimodal.synthetic_ppm_media(spark, n=1).select(
            "media_id", "payload"
        )
        dup = media.unionByName(
            media.selectExpr("media_id + 100 AS media_id", "payload")
        )
        out = [
            (r.dhash_hi, r.dhash_lo)
            for r in multimodal.ppm_image_dhash(dup).collect()
        ]
        assert out[0] == out[1]

    def test_audio_fingerprint_quarantine_and_determinism(self, spark):
        good = multimodal.synthetic_wav_media(spark, n=3).select(
            "media_id", "payload"
        )
        bad = spark.createDataFrame(
            [(77, bytearray(b"RIFFxxxxJUNK"))], "media_id long, payload binary"
        )
        out = {r.media_id: (r.fingerprint, r.total_abs_energy)
               for r in multimodal.wav_energy_fingerprint(
                   good.unionByName(bad)).collect()}
        assert out[77] == (None, None)
        again = {r.media_id: (r.fingerprint, r.total_abs_energy)
                 for r in multimodal.wav_energy_fingerprint(good).collect()}
        assert all(out[k] == again[k] for k in again)


class TestRound3Operators:
    """Edge cases of the round-3 operators that the sf-gate data can't
    reach: empty media payloads, one-sided cogroups, FM bit edge
    values."""

    def test_video_scene_cuts_skips_empty_payload(self, spark):
        rows = [
            (1, b"", {"media_type": "video", "duration_ms": 5000}),
            (2, b"abcdefgh" * 4, {"media_type": "video", "duration_ms": 5000}),
        ]
        df = spark.createDataFrame(
            rows,
            "media_id long, payload binary, "
            "meta struct<media_type:string,duration_ms:long>",
        )
        out = multimodal.video_scene_cuts(df).collect()
        assert [r["media_id"] for r in out] == [2]
        assert out[0]["n_frames"] == 5

    def test_cogrouped_asof_one_sided_keys(self, spark):
        from hbase_to_mongo_export_spark.operators.grouped import (
            cogrouped_asof_merge,
        )
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        p = spark.createDataFrame(
            [(1, 100, t0), (3, 300, t0)],  # user 3 has no clicks
            "user_id long, purchase_id long, ts timestamp",
        )
        c = spark.createDataFrame(
            # user 2 has clicks but no purchases -> contributes nothing;
            # user 1: tie on ts resolves to the larger click_id
            [(1, 10, t0), (1, 11, t0), (2, 20, t0)],
            "user_id long, click_id long, ts timestamp",
        )
        got = {
            (r.user_id, r.purchase_id, r.last_click_id, r.n_prior_clicks)
            for r in cogrouped_asof_merge(p, c).collect()
        }
        assert got == {(1, 100, 11, 2), (3, 300, None, 0)}

    def test_grouped_median_mad_planted_outlier(self, spark):
        """Hand-computable groups (round-8 verdict: the operator's only
        gate was a vacuous 0-row oracle, so nothing checked the
        applyInPandas kernel's actual values). en = [1,5,10,15,19,100]:
        lower-median 10, |devs| sorted [0,5,5,9,9,90] → MAD 5, and only
        the planted 100 exceeds 2 MADs. fr is a single-row group
        (median = the value, MAD 0)."""
        from hbase_to_mongo_export_spark.operators.grouped import (
            grouped_median_mad,
        )

        df = spark.createDataFrame(
            [("en", v) for v in (1, 5, 10, 15, 19, 100)] + [("fr", 7)],
            "lang string, n_chars long",
        )
        stats = {
            r.group_key: (r.n_rows, r.median, r.mad)
            for r in grouped_median_mad(df, "lang", "n_chars").collect()
        }
        assert stats == {"en": (6, 10, 5), "fr": (1, 7, 0)}

        from pyspark.sql import functions as F

        sdf = grouped_median_mad(df, "lang", "n_chars").select(
            F.col("group_key").alias("lang"), "median", "mad"
        )
        outliers = (
            df.join(sdf, "lang")
            .filter(
                (F.col("mad") > 0)
                & (F.abs(F.col("n_chars") - F.col("median")) > 2 * F.col("mad"))
            )
            .collect()
        )
        assert [(r.lang, r.n_chars) for r in outliers] == [("en", 100)]

    def test_fm_neighborhood_two_cliques(self, spark):
        """Two disjoint triangles: hop-1 sketches already cover each
        clique, so hop-2 and hop-3 stats must equal hop-1 exactly."""
        from hbase_to_mongo_export_spark.operators.graph import (
            fm_neighborhood_function,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
            ["u", "v"],
        )
        rows = {r["hop"]: r for r in fm_neighborhood_function(edges).collect()}
        assert rows[0]["n_nodes"] == 6
        assert rows[1]["sum_r2"] == rows[2]["sum_r2"] == rows[3]["sum_r2"]
        assert rows[1]["sum_r2"] > rows[0]["sum_r2"]


def test_hotkey_split_join_equals_plain_join(spark):
    """The isolation join must be row-identical to the plain join on a
    synthetically skewed fact table (one key holds half the rows),
    including keys absent from the dim (inner-join drop) and cold-only
    keys."""
    from hbase_to_mongo_export_spark.operators.skew import hotkey_split_join

    facts = spark.createDataFrame(
        [(1, i) for i in range(500)]          # hot key
        + [(k, k * 10) for k in range(2, 50)]  # cold tail
        + [(999, 1)],                          # key missing from dim
        ["k", "v"],
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 50)], ["k", "name"]
    )
    got = sorted(
        (r.k, r.v, r.name)
        for r in hotkey_split_join(facts, dim, "k", hot_threshold=100).collect()
    )
    want = sorted(
        (r.k, r.v, r.name) for r in facts.join(dim, "k").collect()
    )
    assert got == want and len(got) == 548


def test_business_days_formula(spark):
    """The cumulative-weekday prefix formula used by
    business_days_latency, pinned against hand-computed cases including
    weekend endpoints (the inputs the naive remainder formula got
    wrong)."""
    import datetime as dt

    from pyspark.sql import functions as F

    cases = [
        # (d1, d2, business days in (d1, d2])
        (dt.date(2024, 1, 6), dt.date(2024, 1, 8), 1),   # Sat -> Mon
        (dt.date(2024, 1, 5), dt.date(2024, 1, 8), 1),   # Fri -> Mon
        (dt.date(2024, 1, 1), dt.date(2024, 1, 5), 4),   # Mon -> Fri
        (dt.date(2024, 1, 1), dt.date(2024, 1, 8), 5),   # Mon -> Mon
        (dt.date(2024, 1, 6), dt.date(2024, 1, 7), 0),   # Sat -> Sun
        (dt.date(2024, 1, 1), dt.date(2024, 1, 1), 0),   # same day
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b, _ in cases], "d1 date, d2 date"
    )
    expr = (
        "(5 * (datediff(d2, DATE '1990-01-01') div 7) + "
        " least(datediff(d2, DATE '1990-01-01') % 7 + 1, 5)) - "
        "(5 * (datediff(d1, DATE '1990-01-01') div 7) + "
        " least(datediff(d1, DATE '1990-01-01') % 7 + 1, 5))"
    )
    got = [r[0] for r in df.select(F.expr(expr)).collect()]
    assert got == [c[2] for c in cases]
