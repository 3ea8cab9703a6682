"""Property tests for the approximate operators (no SQL oracle possible):
MinHash-LSH candidate recall vs exact Jaccard, ANN recall vs brute force,
SimHash locality — plus physical-plan assertions (pushdown / broadcast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from local_pdftodocx_ocr_spark import memo
from local_pdftodocx_ocr_spark.operators import dedup, similarity
from local_pdftodocx_ocr_spark.plans import asserts as plans

SF_DIR = "/root/testdata/sf0.01"


class TestMinhashLSH:
    def test_candidates_cover_high_jaccard_pairs(self, spark):
        """LSH with 8 bands x 4 rows catches J>=0.6 pairs w.h.p.; on this
        corpus we require FULL recall of the exact-Jaccard pairs."""
        exact = {(r["doc1"], r["doc2"])
                 for r in dedup.dedup_jaccard_pairs(spark, SF_DIR).collect()}
        cand = {(r["doc1"], r["doc2"])
                for r in dedup.dedup_minhash_candidates(spark, SF_DIR).collect()}
        missed = exact - cand
        assert not missed, f"LSH missed {len(missed)}/{len(exact)} true pairs"

    def test_candidates_not_everything(self, spark):
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        n_cand = dedup.dedup_minhash_candidates(spark, SF_DIR).count()
        assert n_cand < n_docs * (n_docs - 1) / 2 * 0.5, \
            "LSH bucketing is not pruning the pair space"

    def test_signature_caches_are_released(self, spark):
        """The candidate queries persist() their signature tables; a
        repeated caller (the 4x dedup-scale bench, plan dumps) must be
        able to drop them deterministically instead of waiting on
        ContextCleaner GC — memo.persist tracks them and memo.release()
        empties the registry and the storage."""
        memo.release()
        dedup.dedup_minhash_candidates(spark, SF_DIR).count()
        dedup.dedup_simhash_candidates(spark, SF_DIR).count()
        # minhash registers 3 caches (raw hashed shingles, the df-capped
        # index, the signature table), simhash 1
        tracked = list(memo._persisted)
        assert len(tracked) == 4
        assert all(df.is_cached for df in tracked)
        assert "capped_shingles" in {slot[0] for slot in memo._entries}, \
            "capped shingles should be memoized"
        assert memo.release(blocking=True) == 4
        assert not memo._persisted
        assert not any(df.is_cached for df in tracked)
        # the memo entry dies with the cache it hands out (a stale entry
        # would silently recompute the shingle pass once per branch)
        assert "capped_shingles" not in {slot[0] for slot in memo._entries}

    def test_capped_shingles_shared_within_query(self, spark):
        """The tokenize->shingle->md5->df-cap subtree feeds many plan
        branches (sizes + both self-join sides + verify joins);
        unmemoized it recomputed once per branch (the
        docs_dedup_jaccard_pairs plan scanned documents.parquet 8x).
        Every caller reading the same documents table must get the
        SAME persisted table back."""
        memo.release()
        a = dedup._hashed_capped_shingles(dedup._docs(spark, SF_DIR))
        b = dedup._hashed_capped_shingles(dedup._docs(spark, SF_DIR))
        assert a is b, "shingle index must be shared across plan branches"
        memo.release()


class TestSimhash:
    def test_near_identical_docs_have_close_hashes(self, spark):
        rows = [(1, "the quick brown fox jumps over the lazy dog near the river"),
                (2, "the quick brown fox jumps over the lazy dog near the rivers"),
                (3, "completely different content about spark shuffle partitions")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_sim_docs")
        import local_pdftodocx_ocr_spark.operators.dedup as dd
        orig = dd._docs
        try:
            dd._docs = lambda spark, sf: spark.table("_sim_docs")
            out = {r["doc_id"]: r["simhash"] for r in dd.simhash64(spark, "x").collect()}
        finally:
            dd._docs = orig

        def hamming(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        # one differing token out of ~12: low-margin bits may flip, but
        # near-identical docs must stay far closer than unrelated ones
        assert hamming(out[1], out[2]) < hamming(out[1], out[3])
        assert hamming(out[1], out[2]) <= 20
        assert hamming(out[1], out[3]) >= 20


class TestSimhashCandidates:
    def test_banding_is_complete_for_hamming_3(self, spark):
        """The Manku block-combination keys give an EXACT pigeonhole
        guarantee (hamming<=3 -> at most 3 of 6 blocks differ -> some
        block TRIPLE agrees verbatim): every pair within hamming
        distance 3 must be found (not just w.h.p.)."""
        sigs = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
                for r in dedup.simhash64(spark, SF_DIR).collect()}
        ids = sorted(sigs)
        truth = {(a, b)
                 for i, a in enumerate(ids) for b in ids[i + 1:]
                 if bin(sigs[a] ^ sigs[b]).count("1") <= dedup.HAMMING_MAX}
        got = {(r["doc1"], r["doc2"])
               for r in dedup.dedup_simhash_candidates(spark, SF_DIR).collect()}
        assert got == truth


class TestMankuBlockKeys:
    """Round-3 widening of the simhash candidate keys: 16-bit single
    bands -> ~32-bit Manku block-triples (6 blocks, C(6,3)=20 keys).
    Same exact hamming<=3 guarantee, same shuffle count, vastly
    narrower buckets."""

    def _synthetic_sigs(self, spark, n=256):
        """Adversarial signatures: all share bits 0..15 (the round-2
        band-0 key -> ONE bucket of n docs), everything above bit 15
        seeded-random (mutual hamming ~24 >> 3, so no true pairs)."""
        import random
        rng = random.Random(42)
        rows = []
        for i in range(n):
            hi = rng.getrandbits(48) << 16
            v = hi | 0xBEEF
            rows.append((i, v - (1 << 64) if v >= (1 << 63) else v))
        return spark.createDataFrame(rows, "doc_id long, simhash long")

    def test_same_output_as_round2_banding(self, spark):
        """Both constructions are exact for hamming<=3, so their
        post-verify outputs must be identical on the real corpus."""
        sigs = dedup.simhash64(spark, SF_DIR)
        new = {tuple(r) for r in dedup.simhash_candidate_pairs(sigs).collect()}
        old = {tuple(r) for r in dedup._band16_candidate_pairs(sigs).collect()}
        assert new == old

    def test_bucket_occupancy_shrinks(self, spark):
        """On signatures engineered to collide under 16-bit bands, the
        widened keys must break up the monster bucket: the round-2 max
        bucket holds every doc, the Manku max bucket only a sliver."""
        sigs = self._synthetic_sigs(spark)
        n = sigs.count()
        assert sigs.select("simhash").distinct().count() == n  # unique sigs
        old_max = (dedup._band16_keys(sigs).groupBy("bk").count()
                   .agg(F.max("count")).first()[0])
        new_max = (dedup._manku_keys(sigs).groupBy("bk").count()
                   .agg(F.max("count")).first()[0])
        assert old_max == n, "fixture drift: shared low 16 bits should fill band 0"
        assert new_max <= n // 8, \
            f"Manku keys left a bucket of {new_max}/{n} docs"
        # and the quadratic blow-up is gone: candidate PAIRS before the
        # hamming verify shrink by >100x on this fixture
        def pre_verify_pairs(keys, id_col):
            a, b = keys.alias("a"), keys.alias("b")
            return (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                           & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                    .select(f"a.{id_col}", f"b.{id_col}").distinct().count())
        old_pairs = pre_verify_pairs(dedup._band16_keys(sigs), "doc_id")
        new_pairs = pre_verify_pairs(dedup._manku_keys(sigs), "simhash")
        assert old_pairs == n * (n - 1) // 2
        assert new_pairs * 100 < old_pairs

    def test_duplicate_cluster_cost_is_linear(self, spark):
        """Exact-duplicate clusters (sf0.1 ships a 250-doc one) must
        never enter the band index: candidate generation runs on
        DISTINCT signatures, so the banded row count is 20 x unique
        sigs regardless of cluster size, and the cluster's pairs come
        from the single full-signature equi-join instead of a 20x
        banded blowup."""
        import random
        rng = random.Random(7)
        uniq = [rng.getrandbits(63) for _ in range(50)]
        rows = [(i, uniq[0]) for i in range(200)]          # 200-doc cluster
        rows += [(200 + j, s) for j, s in enumerate(uniq[1:])]
        sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
        banded_rows = dedup._manku_keys(
            sigs.select("simhash").distinct()).count()
        assert banded_rows == 50 * len(dedup.SIMHASH_COMBOS)
        out = dedup.simhash_candidate_pairs(sigs)
        n_cluster_pairs = out.filter(F.col("hamming") == 0).count()
        assert n_cluster_pairs == 200 * 199 // 2


class TestSpreadScan:
    """Readers repartition ONLY under-parallel scans: a single-file
    local scan spreads to defaultParallelism; an input that already has
    enough partitions must NOT pick up a repartition exchange (at
    100 TB that would be a full shuffle of the raw corpus before
    map-only work)."""

    def test_single_file_scan_is_spread(self, spark):
        d = dedup._docs(spark, SF_DIR)
        assert d.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_prepartitioned_input_has_no_repartition(self, spark, tmp_path):
        """Also with the memoized probe: a path rewritten in place from
        one file to many is probed again, not served its old count."""
        from local_pdftodocx_ocr_spark.sources.tables import spread_scan
        p = spark.sparkContext.defaultParallelism
        out = str(tmp_path / "docs")
        src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        src.coalesce(1).write.parquet(out)
        assert plans.count_exchanges(
            spread_scan(spark, spark.read.parquet(out), out)) == 1
        src.repartition(p * 2).write.mode("overwrite").parquet(out)
        for df in (spread_scan(spark, spark.read.parquet(out)),
                   spread_scan(spark, spark.read.parquet(out), out)):
            assert plans.count_exchanges(df) == 0, plans.executed_plan(df)
            assert df.rdd.getNumPartitions() >= p


class TestNearDupAtScale:
    def test_no_cartesian_product_in_plan(self, spark):
        """The registered embedding near-dup query must be the
        candidates-only composition: its physical plan contains NO
        cartesian/nested-loop join, while the demoted all-pairs oracle
        formulation does (that is exactly why it was demoted)."""
        scaled_plan = plans.executed_plan(
            similarity.embedding_near_dup_pairs_at_scale(spark, SF_DIR))
        allpairs_plan = plans.executed_plan(
            similarity.embedding_near_dup_pairs(spark, SF_DIR))
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in scaled_plan, f"{node} in at-scale plan"
        assert ("CartesianProduct" in allpairs_plan
                or "BroadcastNestedLoopJoin" in allpairs_plan)


class TestNdBitsOccupancy:
    def test_noop_at_driver_scales_grows_with_log_n(self):
        """The occupancy-scaled bit width must be EXACTLY ND_LSH_BITS at
        every driver/pytest corpus size (so the full-recall set-equality
        pins keep binding), and grow ~log2(n) past the tuned occupancy
        so the bucket self-join stays linear in the corpus."""
        for n in (0, 1, 50, 500, 640, 5000):   # sf0.001/0.01/0.1 sizes
            assert similarity._nd_bits_for(n) == similarity.ND_LSH_BITS, n
        assert similarity._nd_bits_for(50_000) == 7
        assert similarity._nd_bits_for(640 * (1 << 10)) == 10
        # occupancy n/2^bits never exceeds ~2x the tuned level
        import math
        for n in (10_000, 10**6, 10**9):
            bits = similarity._nd_bits_for(n)
            assert n / (1 << bits) <= 2 * similarity.ND_TARGET_OCCUPANCY
            assert bits <= math.ceil(math.log2(n))


class TestNearDupProductionThreshold:
    def test_clustered_embeddings_high_recall_and_pruning(self, spark):
        """The claim the at-scale near-dup tier rests on: at PRODUCTION
        similarity (tight clusters, cos>=0.9) the same bucket-join
        construction achieves >=98% pair recall while pruning >=99% of
        the non-pair space — the sandbox corpus (pairs at cos 0.40-0.51)
        only stresses recall. 40 clusters x 10 members, 14 bits x 40
        tables: per-pair collision p = 1-acos(cos)/pi ~= 0.86, miss
        (1-p^14)^40 < 1%; random-pair collisions are tail-dominated
        (Jensen: E[p^b] > E[p]^b), measured ~0.5% at these widths."""
        import numpy as np
        rng = np.random.RandomState(11)
        vecs = []
        for c in range(40):
            base = rng.randn(64)
            base /= np.linalg.norm(base)
            for m in range(10):
                v = base + 0.04 * rng.randn(64)
                vecs.append(v / np.linalg.norm(v))
        V = np.asarray(vecs)
        n = len(V)
        cos = V @ V.T
        exact = {(i, j) for i in range(n) for j in range(i + 1, n)
                 if cos[i, j] >= 0.9}
        assert len(exact) > 1000  # clusters are actually tight
        df = spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(n)],
            "vec_id long, embedding array<float>")
        sigs = similarity.lsh_bucket_signatures(
            df, bits=14, tables=40, with_vectors=False)
        s1 = sigs.select(F.col("vec_id").alias("id1"), "table", "bucket")
        s2 = sigs.select(F.col("vec_id").alias("id2"), "table", "bucket")
        cand = {(r["id1"], r["id2"]) for r in
                (s1.join(s2, ["table", "bucket"])
                 .filter(F.col("id1") < F.col("id2"))
                 .select("id1", "id2").distinct().collect())}
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.98, f"recall {recall:.3f}"
        n_pairs = n * (n - 1) // 2
        false_cand = len(cand - exact)
        prune = 1 - false_cand / (n_pairs - len(exact))
        assert prune >= 0.99, f"non-pair pruning only {prune:.4f}"


class TestANN:
    def test_recall_vs_bruteforce(self, spark):
        exact = {(r["qid"], r["neighbor"])
                 for r in similarity.cosine_topk_bruteforce(spark, SF_DIR).collect()}
        approx = {(r["qid"], r["neighbor"])
                  for r in similarity.ann_lsh_topk(spark, SF_DIR).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"ANN recall {recall:.2f} too low"

    def test_pq_recall_vs_bruteforce(self, spark):
        """PQ compresses 64 float dims to 4 codes (64:1) yet the
        ADC-shortlist -> exact-re-rank pipeline must keep useful
        recall on near-random vectors (the hardest case for any
        quantizer; clustered production embeddings do far better)."""
        exact = {(r["qid"], r["neighbor"])
                 for r in similarity.cosine_topk_bruteforce(spark, SF_DIR).collect()}
        approx = {(r["qid"], r["neighbor"])
                  for r in similarity.ann_pq_topk(spark, SF_DIR).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.3, f"PQ recall {recall:.2f} too low"

    def test_ivfpq_recall_vs_bruteforce(self, spark):
        """Recall is bounded by the 4-of-16 coarse probe (plain IVF
        measures 0.44 on this corpus — near-random vectors, the
        hardest case) times quantizer fidelity; with the 12x-k re-rank
        shortlist IVF-PQ recovers ~3/4 of the probe ceiling (0.32
        measured). Pin below both with margin for codebook drift."""
        exact = {(r["qid"], r["neighbor"])
                 for r in similarity.cosine_topk_bruteforce(spark, SF_DIR).collect()}
        approx = {(r["qid"], r["neighbor"])
                  for r in similarity.ann_ivfpq_topk(spark, SF_DIR).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.25, f"IVF-PQ recall {recall:.2f} too low"

    def test_pq_and_ivfpq_match_mirror_at_second_corpus(self, spark):
        """The registered oracles pin sf0.01; pin sf0.001 too so the
        trained-index compositions are mirror-checked on a SECOND
        CORPUS (same 500-vector size, different contents — ADVICE r6:
        this is a second-corpus pin, not a second-scale one; genuinely
        size-dependent effects like empty Lloyd cells are exercised by
        the growth-ladder configs in bench.py instead)."""
        from local_pdftodocx_ocr_spark import seq_oracles

        sf = "/root/testdata/sf0.001"
        for fn, seq in ((similarity.ann_pq_topk, seq_oracles.seq_ann_pq_topk),
                        (similarity.ann_ivfpq_topk,
                         seq_oracles.seq_ann_ivfpq_topk)):
            got = {(r["qid"], r["neighbor"], r["cos"], r["rk"])
                   for r in fn(spark, sf).collect()}
            exp = set(seq(sf))
            assert got == exp

    def test_pq_codebooks_match_sequential_training(self, spark):
        """The distributed quantized-Lloyd codebooks must be
        bit-identical to the sequential replay (the kmeans-centroid
        discipline applied per subspace)."""
        from local_pdftodocx_ocr_spark import seq_oracles

        got = similarity._pq_codebooks(spark, SF_DIR)
        exp = seq_oracles._seq_pq_codebooks(SF_DIR)
        assert tuple(tuple(tuple(cw) for cw in b) for b in got) == exp


class TestPhysicalPlans:
    """`.explain`-level guarantees: the plans we rely on at 100 TB."""

    def test_filter_pushdown_to_parquet(self, spark):
        df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
              .filter(F.col("l_shipdate") <= "1997-01-01")
              .select("l_orderkey", "l_quantity"))
        assert "IsNotNull(l_shipdate)" in plans.pushed_filters(df)
        plans.assert_columns_pruned(df, ["l_extendedprice", "l_tax"])

    def test_q5_uses_broadcast_joins(self, spark):
        from local_pdftodocx_ocr_spark.operators.relational import q5_local_supplier
        assert plans.has_broadcast_join(q5_local_supplier(spark, SF_DIR))

    def test_extraction_has_single_exchange(self, spark):
        """The extraction job must shuffle exactly once (the salted
        repartition) — no hidden exchanges around the UDF."""
        from local_pdftodocx_ocr_spark import job, synth
        docs = job.docs_df_from_corpus(spark, synth.gen_corpus(10))
        unified = job.extract_spans(docs, num_partitions=4)
        plans.assert_max_exchanges(unified, 1)
        assert plans.count_exchanges(unified) == 1

    def test_promo_calendar_is_jvm_local_relation(self, spark):
        """VERDICT r3 #5: the 3-row literal calendar must be the
        range(1)+explode idiom (LocalTableScan / whole-stage project),
        not createDataFrame — which ships a Python RDD and spins Python
        workers for constants. The bounded nested-loop broadcast join
        itself is the right plan and must survive."""
        from local_pdftodocx_ocr_spark.operators import relational as r
        df = r.orders_in_promo_windows(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" in plan, plan[:2000]

    def test_q18_scans_lineitem_once(self, spark):
        """The HAVING aggregate is computed once and joined back — the
        decorrelated plan must not re-scan the fact table."""
        from local_pdftodocx_ocr_spark.operators.relational import q18_large_orders
        plan = plans.executed_plan(q18_large_orders(spark, SF_DIR))
        assert plan.count("lineitem.parquet") == 1, plan

    def test_resume_antijoin_reads_doc_id_only(self, spark, tmp_path):
        from local_pdftodocx_ocr_spark import job, synth
        out = str(tmp_path / "prune")
        job.run_job(spark, job.docs_df_from_corpus(spark, synth.gen_corpus(10)), out)
        from local_pdftodocx_ocr_spark.catalog import SnapshotTable
        done = SnapshotTable(out).committed_doc_ids(spark)
        plans.assert_columns_pruned(done, ["spans", "wall_ms"])


class TestNoForcedBroadcastOnScalingTables:
    """VERDICT r1 'what's wrong' #1/#2: a forced broadcast of a table
    that scales with SF OOMs at 100x. Pin — at the analyzed-plan level —
    that the only broadcast hints left are on fixed-size sides."""

    @staticmethod
    def _n_hints(df) -> int:
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint (strategy=broadcast)")

    def test_q14_q17_q3_have_no_broadcast_hint(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as r
        for q in (r.q14_promo_effect, r.q17_small_quantity_revenue,
                  r.q3_shipping_priority):
            assert self._n_hints(q(spark, SF_DIR)) == 0, q.__name__

    def test_q5_hints_only_fixed_dims(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as r
        # nation (25 rows) + region (5 rows) are SF-invariant: exactly 2
        assert self._n_hints(r.q5_local_supplier(spark, SF_DIR)) == 2

    def test_dedup_joins_have_no_broadcast_hint(self, spark):
        for q in (dedup.dedup_jaccard_pairs, dedup.dedup_keep_list,
                  dedup.dedup_pipeline_at_scale):
            assert self._n_hints(q(spark, SF_DIR)) == 0, q.__name__


class TestBoilerplatePlan:
    """VERDICT r3 'What's wrong' #3: the hot-shingle flag join must be a
    broadcast join. The hot set is corpus-size-independent (each hot
    shingle has df >= DF_FRAC*N, so |hot| <= avg_shingles/DF_FRAC at any
    N) — shuffling every raw (doc_id, s) row a second time bought
    nothing and invited hot-shingle skew."""

    def test_flag_join_is_broadcast_not_shuffle(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        df = TS.boilerplate_ngrams(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]
        # exactly ONE shuffle carries the shingle key: the map-side-
        # combined df aggregation. The raw-row side never re-exchanges
        # on s (its only exchange is the final groupBy on doc_id).
        exchanges = [ln for ln in plan.splitlines()
                     if "Exchange hashpartitioning" in ln]
        on_s = [ln for ln in exchanges if "s#" in ln]
        assert len(on_s) == 1, exchanges
        # both hints are bounded sides: the 1-row N and the hot set
        hints = df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint (strategy=broadcast)")
        assert hints == 2


class TestShingleDFCap:
    """VERDICT r1 'what's wrong' #3: without a document-frequency cap a
    hot shingle makes a df^2 self-join bucket at web scale."""

    def test_hot_shingle_dropped_from_index(self, spark):
        # 60 docs all sharing one boilerplate 3-gram + a unique tail
        rows = [(i, f"of the and unique{i} tail{i} token{i}") for i in range(60)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup._capped_shingles(d, cap=10)
        max_df = (capped.groupBy("s").count()
                  .agg(F.max("count").alias("m")).first()["m"])
        assert max_df <= 10, f"bucket size {max_df} exceeds the cap"
        # the hot shingle is gone, the unique ones remain
        assert capped.filter(F.col("s") == "of the and").count() == 0
        assert capped.count() > 0

    def test_cap_is_noop_at_test_sf(self, spark):
        """The production cap must not bind at sf0.01 — otherwise the
        green oracles would only prove the capped semantics, not that
        the cap preserves them."""
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sh = dedup._distinct_shingles(d)
        max_df = (sh.groupBy("s").count()
                  .agg(F.max("count").alias("m")).first()["m"])
        assert max_df <= dedup.SHINGLE_DF_CAP, \
            f"cap binds at sf0.01 (max df {max_df}) — raise SHINGLE_DF_CAP"

    def test_cap_binds_on_boilerplate_cluster(self, spark, tmp_path):
        """Round-3 adversarial corpus: 1200 docs sharing a boilerplate
        sentence make the PRODUCTION cap (1000) bind for real — the hot
        bucket is provably dropped, the Spark result still equals the
        (identically capped) DuckDB oracle, and the one true near-dup
        pair is still found through its sub-cap shingles."""
        import duckdb

        from local_pdftodocx_ocr_spark import synth

        docs = synth.gen_boilerplate_cluster_docs()
        assert len(docs) > dedup.SHINGLE_DF_CAP
        sf_dir = str(tmp_path)
        (spark.createDataFrame(docs, "doc_id long, text string")
         .coalesce(4).write.parquet(f"{sf_dir}/documents.parquet"))

        # (a) the cap binds: raw boilerplate shingles exceed it...
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw_max = (dedup._distinct_shingles(d).groupBy("s").count()
                   .agg(F.max("count")).first()[0])
        assert raw_max > dedup.SHINGLE_DF_CAP
        # ...and the capped index provably dropped the hot bucket
        capped_max = (dedup._hashed_capped_shingles(d).groupBy("k").count()
                      .agg(F.max("count")).first()[0])
        assert capped_max <= dedup.SHINGLE_DF_CAP

        # (b) cross-engine equality holds WITH the cap binding
        got = sorted(tuple(r) for r in
                     dedup.dedup_jaccard_pairs(spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
        exp = sorted(tuple(r) for r in
                     con.execute(dedup.DEDUP_JACCARD_SQL).fetchall())
        assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in exp]
        assert all(abs(g[2] - e[2]) < 1e-9 for g, e in zip(got, exp))

        # (c) recall survives the cap: exactly the planted pair
        assert [(a, b) for a, b, _ in got] == [(0, 1)]


class TestStreaming:
    def test_windowed_counts_memory_sink(self, spark):
        from local_pdftodocx_ocr_spark.streaming import events_stream as es
        stream = es.read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
        es.run_to_memory(es.windowed_counts(stream), "win_out")
        out = spark.sql("SELECT * FROM win_out")
        # append mode emits only watermark-closed windows; compare a
        # closed window against the batch computation
        batch = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                 .groupBy(F.window("ts", "5 minutes"), "event_type")
                 .agg(F.count("*").alias("n"))
                 .select(F.col("window.start").cast("string").alias("win_start"),
                         "event_type", "n"))
        got = {(r["win_start"], r["event_type"]): r["n"] for r in out.collect()}
        exp = {(r["win_start"], r["event_type"]): r["n"] for r in batch.collect()}
        assert got, "no windows emitted"
        for k, v in got.items():
            assert exp[k] == v

    @staticmethod
    def _drain_two_batch_stream(spark, tmp_path, name, transform, key_cols,
                                val_col="c"):
        """Shared scaffold for the constant-state streaming sketches:
        split the events table into two arrival files (so at least two
        micro-batches merge state), drain `transform(stream)` to a
        memory sink in complete mode, and return (streamed, batch)
        dicts keyed by `key_cols` for equality comparison."""
        from local_pdftodocx_ocr_spark.streaming import events_stream as es

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        in_dir = tmp_path / f"{name}_in"
        in_dir.mkdir()
        a, b = ev.filter(F.col("event_id") % 2 == 0), \
            ev.filter(F.col("event_id") % 2 == 1)
        a.coalesce(1).write.parquet(str(in_dir / "arrival=0"))
        b.coalesce(1).write.parquet(str(in_dir / "arrival=1"))
        stream = (spark.readStream.schema(es.EVENTS_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(in_dir) + "/*"))
        es.run_to_memory(transform(stream), f"{name}_out",
                         output_mode="complete")
        key = lambda r: tuple(r[c] for c in key_cols)  # noqa: E731
        got = {key(r): r[val_col]
               for r in spark.sql(f"SELECT * FROM {name}_out").collect()}
        exp = {key(r): r[val_col] for r in transform(ev).collect()}
        return got, exp, ev

    def test_cms_stream_constant_state_equals_batch(self, spark, tmp_path):
        """Streaming count-min sketch: after draining a multi-batch
        stream in complete mode, the cell grid is IDENTICAL to the
        batch formula over the same rows, and the state/result is
        bounded at d*w cells regardless of stream length."""
        from local_pdftodocx_ocr_spark.streaming import events_stream as es

        got, exp, ev = self._drain_two_batch_stream(
            spark, tmp_path, "cms", es.cms_cells_stream, ("i", "bucket"))
        assert got == exp and got
        assert len(got) <= es.CMS_STREAM_D * es.CMS_STREAM_W
        # CMS guarantee on the streamed grid: est >= exact for a probe
        from local_pdftodocx_ocr_spark.functions.hashing import md5_60bit
        probe = str(ev.select("user_id").first()["user_id"])
        exact = ev.filter(F.col("user_id").cast("string") == probe).count()
        buckets = [(i, r[0]) for i in range(es.CMS_STREAM_D)
                   for r in spark.range(1).select(
                       F.pmod(md5_60bit(F.concat(F.lit(probe),
                                                 F.lit(f"cms{i}"))),
                              F.lit(es.CMS_STREAM_W))).collect()]
        est = min(got.get(k, 0) for k in buckets)
        assert est >= exact

    def test_hll_stream_constant_state_equals_batch(self, spark, tmp_path):
        """Streaming HyperLogLog: after draining a multi-batch stream in
        complete mode, the register table is IDENTICAL to the batch
        formula over the same rows, and is bounded at 2^p rows
        regardless of stream length (per-register MAX merges
        monotonically across micro-batches)."""
        from local_pdftodocx_ocr_spark.streaming import events_stream as es

        got, exp, _ = self._drain_two_batch_stream(
            spark, tmp_path, "hll", es.hll_registers_stream, ("bucket",),
            val_col="m")
        assert got == exp and got
        assert len(got) <= es.HLL_STREAM_M

    def test_value_hist_stream_constant_state_equals_batch(self, spark, tmp_path):
        """Streaming histogram: the drained cell counts equal the batch
        formula over the same rows, bounded at 128 cells regardless of
        stream length (counts merge additively across micro-batches)."""
        from local_pdftodocx_ocr_spark.streaming import events_stream as es

        got, exp, ev = self._drain_two_batch_stream(
            spark, tmp_path, "vh", es.value_hist_stream, ("bin",))
        assert got == exp and got
        assert len(got) <= es.HIST_STREAM_MAX_BIN + 1
        assert sum(got.values()) == ev.filter(F.col("value").isNotNull()).count()
        # NULL values are dropped, not binned as maximal outliers;
        # negative values clamp to bin 0
        tiny = spark.createDataFrame(
            [(1, 5.0), (2, None), (3, -3.0)], "event_id long, value double")
        bins = {r["bin"]: r["c"] for r in es.value_hist_stream(tiny).collect()}
        assert bins == {0: 2}

    def test_session_counts_runs(self, spark):
        from local_pdftodocx_ocr_spark.streaming import events_stream as es
        stream = es.read_events_stream(spark, SF_DIR)
        es.run_to_memory(es.session_counts(stream), "sess_out")
        assert spark.sql("SELECT count(*) AS n FROM sess_out").first()["n"] >= 0

    def test_dedup_within_watermark(self, spark, tmp_path):
        """An event_id replayed in a later micro-batch (inside the
        watermark) is emitted exactly once; state is watermark-bounded,
        not stream-length-bounded."""
        from local_pdftodocx_ocr_spark.streaming import events_stream as es
        ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
              .orderBy("event_id").limit(50).cache())
        in_dir = tmp_path / "dup_ev"
        in_dir.mkdir()
        ev.coalesce(1).write.parquet(str(in_dir / "a"))
        # second file replays the first 20 events verbatim
        ev.orderBy("event_id").limit(20).coalesce(1) \
            .write.parquet(str(in_dir / "b"))
        stream = es.read_events_stream(spark, str(in_dir) + "/*",
                                       max_files_per_trigger=1,
                                       glob="*.parquet")
        es.run_to_memory(es.dedup_within_watermark(stream), "wm_dedup_out")
        ids = [r["event_id"] for r in
               spark.sql("SELECT event_id FROM wm_dedup_out").collect()]
        assert len(ids) == len(set(ids)) == 50
        ev.unpersist()

    def test_stream_static_enrichment_matches_batch(self, spark, tmp_path):
        from local_pdftodocx_ocr_spark.streaming import events_stream as es
        dim = spark.createDataFrame(
            [("click", "engagement"), ("view", "engagement"),
             ("purchase", "revenue"), ("error", "ops")],
            "event_type string, category string")
        stream = es.read_events_stream(spark, SF_DIR)
        es.run_to_memory(es.enrich_stream_static(stream, dim), "enrich_out")
        got = (spark.sql("SELECT category, count(*) AS n FROM enrich_out GROUP BY 1")
               .collect())
        batch = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                 .join(dim, "event_type", "left")
                 .groupBy("category").agg(F.count("*").alias("n")).collect())
        assert {r["category"]: r["n"] for r in got} == \
               {r["category"]: r["n"] for r in batch}


class TestAQESkewJoin:
    def test_skewed_join_is_split_at_runtime(self, spark, tmp_path):
        """AQE's skew-join handling — the runtime complement to our
        salted repartition: one hot key on the build side must get its
        partition split (plan shows the skew marker), with row counts
        unchanged. This is the mechanism that absorbs residual key skew
        in the relational queries at 100 TB."""
        left = str(tmp_path / "skew_l")
        right = str(tmp_path / "skew_r")
        # 200k rows on ONE key + a uniform tail vs a small dim
        (spark.range(200_000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
         .union(spark.range(2_000).select((F.col("id") % 100 + 2).alias("k"),
                                          F.col("id").alias("v")))
         .write.mode("overwrite").parquet(left))
        (spark.range(102).select(F.col("id").alias("k"),
                                 F.lit("dim").alias("name"))
         .write.mode("overwrite").parquet(right))
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            j = (spark.read.parquet(left)
                 .join(spark.read.parquet(right), "k"))
            # collect() finalizes THIS DataFrame's adaptive plan
            # (count() would execute a separate QueryExecution)
            n = len(j.collect())
            assert n == 200_000 + 2_000
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestPartitionPruning:
    def test_partitioned_write_prunes_directories(self, spark, tmp_path):
        """Hive-style partitioned layout + a partition-column filter:
        the scan must show a PartitionFilters entry and read only the
        matching directory — the DIRECTORY-level pruning that, at
        100 TB, means a one-type query never lists the other types'
        files (distinct from the row-group PushedFilters already pinned
        in PLANS.md)."""
        p = str(tmp_path / "ev_part")
        (spark.read.parquet(f"{SF_DIR}/events.parquet")
         .write.partitionBy("event_type").mode("overwrite").parquet(p))
        q = (spark.read.parquet(p)
             .filter(F.col("event_type") == "purchase")
             .groupBy().count())
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "event_type" in plan.split("PartitionFilters")[1][:200]
        exact = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                 .filter(F.col("event_type") == "purchase").count())
        assert q.collect()[0][0] == exact


class TestRuntimeBloomFilterJoin:
    def test_selective_join_injects_bloom_filter(self, spark, tmp_path):
        """Runtime bloom-filter join pruning: when one join side is made
        selective by a filter, Catalyst injects a bloom filter built
        from it into the OTHER side's scan, pruning probe rows before
        the shuffle — at 100 TB this is what keeps a selective
        dim-filtered fact join from shuffling the whole fact table."""
        fact = str(tmp_path / "bf_fact")
        dim = str(tmp_path / "bf_dim")
        (spark.range(400_000)
         .select((F.col("id") % 10_000).alias("k"), F.col("id").alias("v"))
         .write.mode("overwrite").parquet(fact))
        (spark.range(10_000)
         .select(F.col("id").alias("k"), (F.col("id") % 100).alias("grp"))
         .write.mode("overwrite").parquet(dim))
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            j = (spark.read.parquet(fact)
                 .join(spark.read.parquet(dim).filter(F.col("grp") == 7), "k"))
            n = j.count()
            assert n == 100 * 40  # 100 dim keys x 40 fact rows each
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "bloom" in plan.lower() or "might_contain" in plan.lower(), \
                plan[:3000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestBucketedJoin:
    def test_bucketed_join_has_no_join_exchange(self, spark, tmp_path):
        """Bucketing both sides on the join key co-locates partitions:
        the sort-merge join runs with NO Exchange on either side — the
        technique that removes the shuffle from repeated big-big joins
        at 100 TB (e.g. spans table joined to a labels table by doc_id)."""
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        try:
            o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
                .mode("overwrite").saveAsTable("b_orders")
            l.withColumnRenamed("l_orderkey", "o_orderkey") \
                .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
                .mode("overwrite").saveAsTable("b_lineitem")
            joined = spark.table("b_lineitem").join(spark.table("b_orders"),
                                                    "o_orderkey")
            plan = plans.executed_plan(joined)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert plans.count_exchanges(joined) == 0, plan
            # sanity: same row count as the shuffled join
            n_plain = l.join(o, l.l_orderkey == o.o_orderkey).count()
            assert joined.count() == n_plain
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, spark):
        exact = {(r["qid"], r["neighbor"])
                 for r in similarity.cosine_topk_bruteforce(spark, SF_DIR).collect()}
        approx = {(r["qid"], r["neighbor"])
                  for r in similarity.ann_ivf_topk(spark, SF_DIR).collect()}
        recall = len(exact & approx) / len(exact)
        # near-random corpus: nprobe/cells = 4/16 of the corpus scored;
        # recall must clearly beat that random-inclusion baseline
        assert recall >= 0.4, f"IVF recall {recall:.2f}"


class TestStatefulStreaming:
    def test_cross_batch_stateful_dedup(self, spark, tmp_path):
        """applyInPandasWithState: a doc_id arriving in two micro-batches
        is emitted exactly once."""
        from local_pdftodocx_ocr_spark import job, synth
        from local_pdftodocx_ocr_spark.streaming import (
            events_stream as es,
            extract_stream as xs,
        )
        corpus = synth.gen_corpus(20)
        in_dir = tmp_path / "dup_in"
        in_dir.mkdir()
        job.docs_df_from_corpus(spark, corpus).coalesce(1) \
            .write.parquet(str(in_dir / "a"))
        # second file repeats the first 10 docs
        job.docs_df_from_corpus(spark, corpus[:10]).coalesce(1) \
            .write.parquet(str(in_dir / "b"))
        stream = xs.read_docs_stream(spark, str(in_dir) + "/*",
                                     max_files_per_trigger=1)
        deduped = xs.dedup_docs_stateful(stream)
        q = (deduped.writeStream.format("memory").queryName("dedup_out")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .start())
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT doc_id FROM dedup_out").collect()
        ids = [r["doc_id"] for r in rows]
        assert len(ids) == len(set(ids)) == 20


class TestRepetitionFold:
    def test_fold_matches_reference_on_adversarial_texts(self, spark, tmp_path):
        """The sort+run-length fold must equal the naive count-argmax
        reference on tie-heavy and degenerate inputs — ties break to the
        lexicographically SMALLEST bigram among the most frequent."""
        from collections import Counter

        from local_pdftodocx_ocr_spark.operators import textstats as T
        texts = [
            "a a a a a",                      # one bigram, max run
            "b a b a b a",                    # 'a b' x2 vs 'b a' x3
            "z y z y x w x w",                # tie 'z y'x2 vs... check min
            "c b a c b a c b a",              # 3-cycle, all bigrams tied
            "q r",                            # single bigram
            "t t s s t t s s",                # paired runs with tie
            "m n m n m n o o o",              # mixed
        ]
        rows = [(i, t) for i, t in enumerate(texts)]
        d = tmp_path / "sfrep"
        d.mkdir()
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(str(d / "documents.parquet"))
        got = {r["doc_id"]: (r["top_bigram"], r["top_bigram_frac"])
               for r in T.quality_repetition(spark, str(d)).collect()}
        for i, t in rows:
            toks = t.split(" ")
            bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            cnt = Counter(bgs)
            maxc = max(cnt.values())
            expect_bg = min(b for b, c in cnt.items() if c == maxc)
            assert got[i][0] == expect_bg, (i, t, got[i])
            assert got[i][1] == round(maxc / len(bgs), 4), (i, t, got[i])


class TestChunking:
    def test_chunks_cover_every_token_with_stride(self, spark):
        """Coverage property: per doc, chunk start offsets advance by
        exactly the stride and the union of [start, start+len) covers
        [1, n_tokens] with no gap."""
        from local_pdftodocx_ocr_spark.operators import textstats as T
        rows = T.chunk_for_training(spark, "/root/testdata/sf0.001").collect()
        n_by_doc = {r["doc_id"]: r["n_tokens"] for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
            .selectExpr("doc_id", "size(split(text, ' ')) AS n_tokens")
            .collect()}
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == set(n_by_doc)
        for doc_id, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["chunk_id"])
            n = n_by_doc[doc_id]
            covered_to = 0
            for i, c in enumerate(chunks):
                assert c["start_token"] == 1 + i * T.CHUNK_STRIDE
                assert c["start_token"] <= covered_to + 1  # no gap
                covered_to = max(covered_to,
                                 c["start_token"] + c["chunk_tokens"] - 1)
                assert len(c["chunk_text"].split(" ")) == c["chunk_tokens"]
            assert covered_to == n


class TestCMSSketch:
    def test_estimate_never_underestimates(self, spark):
        """The count-min guarantee: est >= exact for every probe, with
        equality when no other term collides into all four buckets.
        The absent probe must read (0, 0)."""
        from local_pdftodocx_ocr_spark.operators import textstats as T
        rows = {r["term"]: (r["exact_count"], r["est_count"])
                for r in T.term_freq_cms(spark, SF_DIR).collect()}
        assert set(rows) == set(T.CMS_PROBES)
        for term, (exact, est) in rows.items():
            assert est >= exact, f"{term}: CMS underestimated"
        assert rows["zzznothere"][0] == 0
        # the corpus vocabulary (~30 words) can't fill 4x1024 cells, so
        # present probes must be collision-free -> est == exact
        for term in ("value", "table", "row"):
            assert rows[term][1] == rows[term][0] > 0


class TestIncrementalDedup:
    def test_committed_and_within_batch_dups_dropped(self, spark, tmp_path):
        """Planted duplicates: an incoming doc matching a committed text
        is dropped entirely; within-batch copies collapse to min id."""
        rows = [
            (0, "alpha bravo charlie"),   # committed
            (2, "delta echo foxtrot"),    # committed
            (1, "ALPHA bravo charlie"),   # incoming, dup of committed 0
            (3, "golf hotel india"),      # incoming, fresh
            (5, "golf hotel india"),      # incoming, within-batch dup of 3
            (7, "juliet kilo lima"),      # incoming, fresh
        ]
        d = tmp_path / "sfX"
        d.mkdir()
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(str(d / "documents.parquet"))
        got = {r["keep_id"]: r["n_in_batch"]
               for r in dedup.dedup_incremental(spark, str(d)).collect()}
        assert got == {3: 2, 7: 1}


class TestIncrementalMinhash:
    """Incremental NEAR-dup dedup (round 6): the batch-vs-committed
    band-probe -> exact-verify path must drop every incoming doc with a
    >=0.6-Jaccard partner that is committed (either id order) or an
    earlier batch member — and keep the rest."""

    _BASE_A = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    _BASE_B = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    _BASE_C = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"

    def _plant(self, spark, tmp_path):
        # last-token variants share 9 of 11 distinct shingles ->
        # jaccard 9/11 = 0.818 >= 0.6
        rows = [
            (0, self._BASE_A, "en", "web"),              # committed
            (1, self._BASE_A + "x", "en", "web"),        # inc: dup of committed 0
            (3, self._BASE_B, "en", "web"),              # inc: fresh -> kept
            (5, self._BASE_B + "x", "en", "web"),        # inc: dup of batch 3
            (7, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "web"),  # inc: fresh -> kept
            (9, self._BASE_C, "en", "web"),              # inc: dup of committed 10
            (10, self._BASE_C + "x", "en", "web"),       # committed (HIGHER id)
        ]
        d = tmp_path / "sfX"
        d.mkdir()
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).write.parquet(str(d / "documents.parquet"))
        return str(d)

    def test_planted_batch(self, spark, tmp_path):
        sf = self._plant(spark, tmp_path)
        kept = {r["doc_id"]
                for r in dedup.dedup_incremental_minhash(spark, sf).collect()}
        dedup.release_caches()
        # 1 matches committed 0; 5 matches earlier batch member 3;
        # 9 matches committed 10 (higher id — committed wins regardless)
        assert kept == {3, 7}

    def test_no_broadcast_hint(self, spark):
        n = dedup.dedup_incremental_minhash(spark, SF_DIR) \
            ._jdf.queryExecution().analyzed().toString() \
            .count("ResolvedHint (strategy=broadcast)")
        dedup.release_caches()
        assert n == 0

    def test_identical_cluster_degenerate_case(self, spark, tmp_path):
        """A 20-doc IDENTICAL-text cluster split across committed/
        incoming — the exact-dup degeneracy the two-tier split exists
        for (per-doc banding would pair it LSH_BANDS x K^2 times; the
        signature tier pairs it once per pair). Semantics: every
        incoming cluster member has a committed partner -> all dropped;
        the lone fresh doc survives."""
        text = " ".join(f"t{i}" for i in range(20))
        rows = [(i, text, "en", "web") for i in range(20)]
        rows.append((21, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "web"))
        d = tmp_path / "sfC"
        d.mkdir()
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).write.parquet(str(d / "documents.parquet"))
        kept = {r["doc_id"]
                for r in dedup.dedup_incremental_minhash(spark, str(d)).collect()}
        dedup.release_caches()
        assert kept == {21}


class TestComponentsProduction:
    def test_matches_sequential_mirror_at_second_scale(self, spark):
        """The registered oracle pins sf0.01; pin sf0.001 too so the
        production-threshold composition is mirror-checked at two
        corpus sizes (the emb_near_dup_at_scale precedent)."""
        from local_pdftodocx_ocr_spark import seq_oracles

        sf = "/root/testdata/sf0.001"
        got = {(r["doc_id"], r["component"])
               for r in dedup.components_unified_production_embeddings(
                   spark, sf).collect()}
        dedup.release_caches()
        exp = set(seq_oracles.seq_components_unified_production(sf))
        assert got == exp


class TestTrainingShards:
    def test_written_shards_match_source_manifest(self, spark, tmp_path):
        """write_training_shards must round-trip: the manifest recomputed
        from the Hive-partitioned files equals shard_manifest() on the
        source (doc counts, token counts, AND the order-free xor
        checksum), and every shard directory exists."""
        from local_pdftodocx_ocr_spark.operators import textstats

        sf = "/root/testdata/sf0.001"
        out = str(tmp_path / "shards")
        got = [tuple(r) for r in
               textstats.write_training_shards(spark, sf, out).collect()]
        exp = [tuple(r) for r in
               textstats.shard_manifest(spark, sf).collect()]
        assert got == exp
        import os
        dirs = {d for d in os.listdir(out) if d.startswith("shard_id=")}
        assert dirs == {f"shard_id={r[0]}" for r in exp}

    def test_checksum_partitioning_invariant(self, spark):
        """bit_xor is commutative/associative: the manifest must be
        bit-identical under a different input partitioning."""
        from local_pdftodocx_ocr_spark.operators import textstats

        sf = "/root/testdata/sf0.001"
        a = {tuple(r) for r in textstats.shard_manifest(spark, sf).collect()}
        d = spark.read.parquet(f"{sf}/documents.parquet").repartition(17)
        shard, n_tok, digest = textstats._shard_cols()
        b = {tuple(r) for r in
             (d.select(shard.alias("shard_id"), n_tok.alias("nt"),
                       digest.alias("h"))
              .groupBy("shard_id")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("nt").alias("n_tokens"),
                   F.expr("bit_xor(h)").alias("checksum"))).collect()}
        assert a == b


class TestPackBinsNosplit:
    def test_bin_invariants(self, spark):
        """No bin exceeds L tokens unless it is a single truncated doc;
        fill_after is monotone within a bin; bin ids are unique within
        their block prefix."""
        from local_pdftodocx_ocr_spark import seq_oracles
        from local_pdftodocx_ocr_spark.operators import textstats

        rows = textstats.pack_bins_nosplit(spark, SF_DIR).collect()
        L = textstats.PACK_SEQ_LEN
        by_bin = {}
        for r in rows:
            by_bin.setdefault(r["bin_id"], []).append(r)
        assert any(len(v) > 1 for v in by_bin.values()), \
            "expected at least one multi-doc bin on this corpus"
        for bin_id, members in by_bin.items():
            tail = max(m["fill_after"] for m in members)
            if any(m["truncated"] for m in members):
                assert len(members) == 1   # truncated doc sits alone
            assert tail <= L
        # mirror equality (the registered oracle, asserted directly)
        exp = set(seq_oracles.seq_pack_bins(SF_DIR))
        got = {(r["doc_id"], r["bin_id"], r["fill_after"], r["truncated"])
               for r in rows}
        assert got == exp


class TestKMVSketch:
    def test_estimate_within_error_bound(self, spark):
        """KMV with k=64 has relative stddev ~1/sqrt(k-2) ~= 12.7%;
        at sf0.01 every type has 150 distinct users (> k, estimate
        branch) and the estimate must land within 4 sigma."""
        from local_pdftodocx_ocr_spark.operators import relational as R
        est = {r["event_type"]: (r["n_kept"], r["est_distinct"])
               for r in R.events_kmv_distinct(spark, SF_DIR).collect()}
        exact = {r["event_type"]: r["n_users"]
                 for r in R.distinct_users_per_type(spark, SF_DIR).collect()}
        assert set(est) == set(exact)
        for t, (n_kept, e) in est.items():
            if exact[t] < R.KMV_K:
                assert n_kept == exact[t] and e == float(exact[t])
            else:
                assert n_kept == R.KMV_K
                assert abs(e - exact[t]) / exact[t] < 4 * 0.127, \
                    f"{t}: est {e} vs exact {exact[t]}"

    def test_topk_runs_map_side(self, spark):
        """The sketch's merge step must happen BEFORE the shuffle:
        Spark 4 compiles the row_number<=k window to WindowGroupLimit
        with a Partial pass, so each map task ships at most k rows per
        type. If this pin breaks (e.g. the filter stops being
        pushable), the operator silently degrades to shuffling every
        distinct hash."""
        from local_pdftodocx_ocr_spark.operators import relational as R
        df = R.events_kmv_distinct(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan[:2000]
        assert "Partial" in plan, plan[:2000]

    def test_token_budget_mix_runs_map_side(self, spark):
        """VERDICT r3 #1: the per-source running sum must be preceded by
        a row_number()<=BUDGET pre-limit that compiles to
        WindowGroupLimit with a map-side Partial pass — otherwise each
        source is a full global sort + single-task scan at 10^12 docs.
        Every sort in the plan must be LOCAL (non-global): the cumsum
        runs on <= BUDGET rows per source after the limit."""
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        df = TS.token_budget_mix(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan[:2000]
        limit_lines = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
        assert any("Partial" in ln for ln in limit_lines), plan[:2000]
        assert all("600" in ln for ln in limit_lines)
        # no global sort anywhere: Sort [...], false = per-partition only
        for ln in plan.splitlines():
            if "Sort [" in ln:
                assert "], false," in ln, f"global sort in plan: {ln}"

    def test_exact_branch_below_k(self, spark):
        """sf0.001 has 15 distinct users per type (< k): the sketch
        must return the exact count."""
        from local_pdftodocx_ocr_spark.operators import relational as R
        sf = "/root/testdata/sf0.001"
        est = {r["event_type"]: r["est_distinct"]
               for r in R.events_kmv_distinct(spark, sf).collect()}
        exact = {r["event_type"]: r["n_users"]
                 for r in R.distinct_users_per_type(spark, sf).collect()}
        assert est == {t: float(n) for t, n in exact.items()}


class TestPackSequences:
    """Sequence packing's global prefix sum must be the two-phase
    distributed form — never `SUM() OVER (ORDER BY ...)` with an empty
    PARTITION BY, which executes as Exchange SinglePartition + one task
    over the whole corpus."""

    def test_no_single_partition_exchange(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        df = TS.pack_sequences(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan[:2000]
        # the only window is partition-local (keyed on pid)
        for ln in plan.splitlines():
            if "Window [" in ln:
                assert "pid" in ln, ln

    def test_packing_invariants(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        rows = sorted(TS.pack_sequences(spark, SF_DIR).collect(),
                      key=lambda r: r["global_offset"])
        # offsets tile the concatenated corpus exactly: each doc starts
        # where the previous ended, first starts at 0
        assert rows[0]["global_offset"] == 0
        for prev, cur in zip(rows, rows[1:]):
            assert cur["global_offset"] == \
                prev["global_offset"] + prev["n_tokens"]
        for r in rows:
            assert r["seq_id"] == r["global_offset"] // TS.PACK_SEQ_LEN
            assert r["seq_offset"] == r["global_offset"] % TS.PACK_SEQ_LEN

    def test_packed_payloads_tile_the_corpus(self, spark):
        """Payload emission: every sequence is exactly PACK_SEQ_LEN
        tokens except the final one; seq_ids are contiguous from 0; the
        grand total equals the corpus token count; and group size is
        bounded at L by construction (the skew-free groupBy claim)."""
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        rows = sorted(((r["seq_id"], r["n_tokens"], r["packed_text"])
                       for r in TS.packed_payloads(spark, SF_DIR).collect()))
        ids = [s for s, _, _ in rows]
        assert ids == list(range(len(rows)))
        for s, n, txt in rows[:-1]:
            assert n == TS.PACK_SEQ_LEN
            assert len(txt.split(" ")) == n
        total = sum(n for _, n, _ in rows)
        corpus_tokens = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                         .select(F.sum(F.size(F.split("text", " "))))
                         .first()[0])
        assert total == corpus_tokens

    def test_values_independent_of_partition_count(self, spark):
        """global_offset depends only on the total order, never on where
        the range boundaries fall."""
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        a = {r["doc_id"]: r["global_offset"]
             for r in TS.pack_sequences(spark, SF_DIR).collect()}
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "5")
            b = {r["doc_id"]: r["global_offset"]
                 for r in TS.pack_sequences(spark, SF_DIR).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert a == b


class TestNtilesPlan:
    """VERDICT r4 #1: customer_balance_ntiles must never run NTILE over
    a global (empty-PARTITION-BY) window — Exchange SinglePartition +
    one task sorting the whole SF-scaling customer table. The rewrite
    computes the exact global rank with the pack_sequences two-phase
    prefix sum and derives the quartile arithmetically."""

    def test_no_single_partition_exchange(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as R
        df = R.customer_balance_ntiles(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan[:2000]
        # the only window is partition-local (keyed on pid)
        for ln in plan.splitlines():
            if "Window [" in ln:
                assert "pid" in ln, ln

    def test_exact_ntile_semantics(self, spark):
        """The arithmetic bucket must equal Spark's own ntile(4) (the
        semantics anchor) including the uneven-remainder layout, and be
        independent of where the range boundaries fall."""
        from pyspark.sql import Window as W

        from local_pdftodocx_ocr_spark.operators import relational as R
        got = {r["q"]: (r["n"], r["avg_bal"])
               for r in R.customer_balance_ntiles(spark, SF_DIR).collect()}
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        w = W.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
        ref = {r["q"]: (r["n"], r["avg_bal"])
               for r in (c.withColumn("q", F.ntile(4).over(w))
                         .groupBy("q")
                         .agg(F.count("*").alias("n"),
                              F.round(F.avg(F.col("c_acctbal")
                                            .cast("decimal(24,8)"))
                                      .cast("double"), 4).alias("avg_bal"))
                         ).collect()}
        assert got == ref
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "5")
            again = {r["q"]: (r["n"], r["avg_bal"])
                     for r in R.customer_balance_ntiles(spark, SF_DIR)
                     .collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert again == ref


class TestPIIScrub:
    def test_planted_pii_redacted_and_counted(self, spark):
        """Planted emails/phones/IPs: counts and byte-exact redaction,
        checked against hashlib AND DuckDB on the same rows (the regex
        dialect-subset parity the corpus-level oracle can't exercise
        when the corpus carries no PII)."""
        import hashlib

        import duckdb

        rows = [
            (1, "contact alice.smith+x@example.co.uk or 212-555-1234 now"),
            (2, "server at 10.0.255.7 logged bob@test.io and 987.654.3210"),
            (3, "no pii here just words"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_pii_docs")
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_pii_docs")
            got = {r["doc_id"]: r for r in TS.pii_scrub(spark, "x").collect()}
        finally:
            TS._docs = orig
        assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ips"]) == (1, 1, 0)
        # doc 2: "987.654.3210" is a dot-separated phone (3-3-4), not an
        # IPv4 (only 3 octets); the IP literal counts once
        assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_ips"]) == (1, 1, 1)
        assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) == (0, 0, 0)
        expected = {
            1: "contact <EMAIL> or <PHONE> now",
            2: "server at <IP> logged <EMAIL> and <PHONE>",
            3: "no pii here just words",
        }
        for d, red in expected.items():
            assert got[d]["redacted_md5"] == hashlib.md5(red.encode()).hexdigest(), d
        # and DuckDB's RE2 agrees on the identical rows
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                    + ", ".join(f"({d}, '{t}')" for d, t in rows)
                    + ") AS t(doc_id, text)")
        duck = {r[0]: r for r in con.execute(TS.PII_SQL).fetchall()}
        for d in expected:
            assert tuple(duck[d]) == (d, got[d]["n_emails"], got[d]["n_phones"],
                                      got[d]["n_ips"], got[d]["redacted_md5"])


class TestTemperatureMix:
    def test_flattens_source_distribution(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        before = {r["source"]: r["n"] for r in
                  d.groupBy("source").agg(F.count("*").alias("n")).collect()}
        out = TS.temperature_mix(spark, SF_DIR).collect()
        after: dict = {}
        rates: dict = {}
        for r in out:
            after[r["source"]] = after.get(r["source"], 0) + 1
            rates[r["source"]] = r["rate"]
        for s, n in before.items():
            if n <= TS.TEMPERATURE_CAP_DOCS:
                # at/under the cap: rate 1.0, everything kept
                assert rates.get(s, 1.0) == 1.0
                assert after.get(s, 0) == n
            else:
                assert rates[s] < 1.0
                assert after[s] < n
        # flattening is monotone: a bigger source never gets a higher rate
        ordered = sorted(before, key=before.get)
        for a, b in zip(ordered, ordered[1:]):
            assert rates.get(a, 1.0) >= rates.get(b, 1.0)

    def test_decision_is_deterministic_projection(self, spark):
        """No RNG anywhere: two runs give identical keep sets, and the
        per-doc decision survives repartitioning."""
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        a = {r["doc_id"] for r in TS.temperature_mix(spark, SF_DIR).collect()}
        b = {r["doc_id"] for r in TS.temperature_mix(spark, SF_DIR).collect()}
        assert a == b and a


class TestDuplicatedNgramSpans:
    def test_planted_shared_span_flagged(self, spark):
        """Two docs sharing a verbatim 12-token passage: exactly the
        windows inside the passage flag as duplicated; a doc of unique
        text scores 0; sub-window docs are excluded."""
        shared = " ".join(f"w{i}" for i in range(12))            # 12 tokens
        rows = [
            (1, shared + " unique1 tail1 alpha beta gamma delta"),
            (2, "prefix2 other2 " + shared),
            (3, "entirely unique content " + " ".join(f"u{i}" for i in range(10))),
            (4, "too short"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_dup_docs")
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_dup_docs")
            got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
                   for r in TS.duplicated_ngram_spans(spark, "x").collect()}
        finally:
            TS._docs = orig
        # a 12-token shared run contains 12-10+1 = 3 shared 10-windows
        assert got[1][1] == 3 and got[2][1] == 3
        assert got[3] == (4, 0)       # 13 tokens -> 4 windows, none dup
        assert 4 not in got           # below DUP_WINDOW: no windows


class TestDedupComponents:
    def test_transitive_chain_merges(self, spark):
        """A~B and B~C must land in ONE component even when A~C is not
        itself a qualifying pair (the case greedy doc2-dropping splits)."""
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, base + " one extra word"),
            (2, base + " one extra"),        # ~1 and ~3
            (3, base + " one"),
            (4, "totally different content about spark adaptive execution"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_cc_docs")
        import local_pdftodocx_ocr_spark.operators.dedup as dd
        orig = dd._docs
        try:
            dd._docs = lambda spark, sf: spark.table("_cc_docs")
            comp = {r["doc_id"]: r["component"]
                    for r in dd.dedup_components(spark, "x").collect()}
            pairs = {(r["doc1"], r["doc2"])
                     for r in dd.dedup_jaccard_pairs(spark, "x").collect()}
        finally:
            dd._docs = orig
        assert (1, 2) in pairs and (2, 3) in pairs
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[4] == 4

    def test_unified_merges_across_signal_tiers(self, spark):
        """The unified any-signal graph must (a) refine every single
        tier — docs paired by Jaccard, simhash, or embedding cosine
        share a unified component — and (b) genuinely merge MORE than
        the lexical tier alone on this corpus (the embedding tier links
        docs the text tiers cannot see)."""
        from local_pdftodocx_ocr_spark.operators import similarity as sim
        comp = {r["doc_id"]: r["component"]
                for r in dedup.dedup_components_unified(spark, SF_DIR).collect()}
        jac = [(r["doc1"], r["doc2"])
               for r in dedup.dedup_jaccard_pairs(spark, SF_DIR).collect()]
        simp = [(r["doc1"], r["doc2"])
                for r in dedup.dedup_simhash_candidates(spark, SF_DIR).collect()]
        embp = [(r["id1"], r["id2"])
                for r in sim.embedding_near_dup_pairs(spark, SF_DIR).collect()]
        assert jac and simp and embp    # all three tiers light up here
        for a, b in jac + simp + embp:
            assert comp[a] == comp[b], (a, b)
        lex_only = {r["doc_id"]: r["component"]
                    for r in dedup.dedup_components(spark, SF_DIR).collect()}
        n_unified = len(set(comp.values()))
        n_lex = len(set(lex_only.values()))
        assert n_unified < n_lex, (n_unified, n_lex)


class TestUnifiedMemo:
    """The three-tier candidate graph + star-CC must run ONCE per
    session when all three consumers (components, canonical keep,
    cluster sizes) execute back-to-back — the labels are shared via a
    localCheckpoint memo entry."""

    def test_graph_computed_once_for_trio(self, spark):
        memo.clear()
        before = dedup.UNIFIED_GRAPH_RUNS
        comp = dedup.dedup_components_unified(spark, SF_DIR).collect()
        keep = dedup.dedup_canonical_keep(spark, SF_DIR).collect()
        sizes = dedup.dedup_cluster_sizes(spark, SF_DIR).collect()
        assert dedup.UNIFIED_GRAPH_RUNS - before == 1
        # the consumers genuinely read the shared labels
        comps = {r["component"] for r in comp}
        assert {r["component"] for r in keep} == comps
        assert sum(r["n_docs"] for r in sizes) == len(comp)

    def test_memo_cleared_forces_recompute(self, spark):
        memo.clear()
        before = dedup.UNIFIED_GRAPH_RUNS
        a = {tuple(r) for r in
             dedup.dedup_components_unified(spark, SF_DIR).collect()}
        memo.clear()
        b = {tuple(r) for r in
             dedup.dedup_components_unified(spark, SF_DIR).collect()}
        assert dedup.UNIFIED_GRAPH_RUNS - before == 2
        assert a == b   # recompute is value-identical


class TestStarComponents:
    """Large-star/small-star CC (the 10^12-doc path, O(log^2) rounds)."""

    def test_equals_min_label_components(self, spark):
        a = {tuple(r) for r in dedup.dedup_components(spark, SF_DIR).collect()}
        b = {tuple(r) for r in
             dedup.dedup_components_at_scale(spark, SF_DIR).collect()}
        assert a == b

    def test_long_path_graph(self, spark):
        """A 100-node path has diameter 99: min-label propagation (1 hop
        per round, bounded at 32) must now fail LOUD, while the star
        method labels the whole chain with its minimum in O(log) rounds."""
        n = 100
        d = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc1 long, doc2 long")
        out = dedup._star_components(d, pairs)
        labels = {r["doc_id"]: r["component"] for r in out.collect()}
        assert labels == {i: 0 for i in range(n)}

    def test_min_label_fails_loud_past_its_bound(self, spark, monkeypatch):
        n = 40   # diameter 39 > 32 rounds
        d = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc1 long, doc2 long")
        monkeypatch.setattr(dedup, "_docs", lambda s, sf, spread=True: d)
        monkeypatch.setattr(dedup, "dedup_jaccard_pairs", lambda s, sf: pairs)
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.dedup_components(spark, "ignored")

    def test_star_handles_empty_graph(self, spark):
        d = spark.range(5).select(F.col("id").alias("doc_id"))
        pairs = spark.createDataFrame([], "doc1 long, doc2 long")
        out = {r["doc_id"]: r["component"]
               for r in dedup._star_components(d, pairs).collect()}
        assert out == {i: i for i in range(5)}


class TestDedupPipeline:
    def test_scale_pipeline_equals_exact_keep_list(self, spark):
        """candidates(LSH) -> verify(exact Jaccard on candidates) must
        produce the identical keep set as all-pairs exact Jaccard."""
        a = {r["doc_id"] for r in dedup.dedup_pipeline_at_scale(spark, SF_DIR).collect()}
        b = {r["doc_id"] for r in dedup.dedup_keep_list(spark, SF_DIR).collect()}
        assert a == b


class TestSpanRemoval:
    """Substring-dedup rewrite (docs_span_removal): planted cross-doc
    duplicated 10-grams must vanish from every non-owner doc, byte-exact."""

    def _run(self, spark, rows):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_span_docs")
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_span_docs")
            return {r["doc_id"]: r
                    for r in TS.duplicated_span_removal(spark, "x").collect()}
        finally:
            TS._docs = orig

    def test_planted_spans_removed_owner_keeps(self, spark):
        import hashlib

        shared = " ".join(f"w{i}" for i in range(10))
        rows = [
            (1, shared),                               # owner: keeps all
            (2, f"x1 x2 {shared} y1 y2"),              # loses the 10-gram
            (3, "short doc under window"),             # < 10 tokens: untouched
            (4, f"{shared} z {shared}"),               # loses BOTH copies
        ]
        got = self._run(spark, rows)
        exp_text = {1: shared, 2: "x1 x2 y1 y2",
                    3: "short doc under window", 4: "z"}
        exp_removed = {1: 0, 2: 10, 3: 0, 4: 20}
        for d, (tid, txt) in zip(sorted(exp_text), sorted(exp_text.items())):
            assert got[tid]["scrubbed_md5"] == \
                hashlib.md5(exp_text[tid].encode()).hexdigest(), tid
            assert got[tid]["n_removed"] == exp_removed[tid], tid

    def test_every_doc_emitted_and_counts_consistent(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        out = TS.duplicated_span_removal(spark, SF_DIR).collect()
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert len(out) == n_docs
        for r in out:
            assert 0 <= r["n_removed"] <= r["n_tokens"], r


class TestDSIRWeights:
    def test_mirror_on_planted_corpus(self, spark):
        """Full Python mirror of the integer-quantized DSIR arithmetic on
        a planted corpus: one gate-passing target-ish doc, one junk doc.
        The target-vocabulary doc must outscore the junk doc AND both
        must equal the sequential recomputation bit-for-bit."""
        import math
        from collections import Counter

        from local_pdftodocx_ocr_spark.operators import textstats as TS

        tgt_text = ("the quality corpus signal tokens flow here and "
                    "the writing is clean for the reader today ") * 3
        rows = [(1, tgt_text.strip()),
                (2, "junk junk junk zz"),
                (3, "the quality signal is clean for the reader and flows"),
                (4, "zz junk zz junk zz")]
        df = spark.createDataFrame([(d, t, "en") for d, t in rows],
                                   "doc_id long, text string, lang string")
        df.createOrReplaceTempView("_dsir_docs")
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_dsir_docs")
            got = {r["doc_id"]: r for r in TS.dsir_weights(spark, "x").collect()}
            tgt_ids = {r["doc_id"]
                       for r in TS.quality_filter_chain(spark, "x").collect()}
        finally:
            TS._docs = orig
        assert 1 in tgt_ids and 2 not in tgt_ids  # the planting worked

        toks = {d: [t for t in txt.lower().split(" ") if t] for d, txt in rows}
        raw = Counter()
        tgt = Counter()
        for d, ts in toks.items():
            raw.update(ts)
            if d in tgt_ids:
                tgt.update(ts)
        v = len(raw)
        n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
        r = {t: round(math.log2((tgt[t] + 1) * (n_raw + v)
                                / ((raw[t] + 1) * (n_tgt + v))) * 10000.0)
             for t in raw}
        for d, ts in toks.items():
            sum_r = sum(r[t] for t in ts)
            n = len(ts)
            q = (2 * abs(sum_r) + n) // (2 * n)
            exp = (-q if sum_r < 0 else q) / 10000.0
            assert got[d]["dsir_logratio"] == exp, d
            assert got[d]["n_tokens"] == n, d
        assert got[1]["dsir_logratio"] > got[2]["dsir_logratio"]
        assert got[3]["dsir_logratio"] > got[4]["dsir_logratio"]


class TestBigramLoglik:
    def test_mirror_on_planted_corpus(self, spark):
        import math
        from collections import Counter

        from local_pdftodocx_ocr_spark.operators import textstats as TS

        rows = [(1, "a b a b a"), (2, "a b c"), (3, "x"), (4, "c a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_bg_docs")
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_bg_docs")
            got = {r["doc_id"]: r for r in TS.bigram_loglik(spark, "x").collect()}
        finally:
            TS._docs = orig

        toks = {d: txt.lower().split(" ") for d, txt in rows}
        bgs = {d: [f"{ts[i]} {ts[i+1]}" for i in range(len(ts) - 1)]
               for d, ts in toks.items()}
        btf = Counter(b for bs in bgs.values() for b in bs)
        ctx = Counter()
        for b, n in btf.items():
            ctx[b.split(" ")[0]] += n
        v = len({t for ts in toks.values() for t in ts if t})
        r = {b: round(math.log2((n + 1) / (ctx[b.split(" ")[0]] + v)) * 10000.0)
             for b, n in btf.items()}
        for d, bs in bgs.items():
            if not bs:
                assert got[d]["n_bigrams"] == 0 and \
                    got[d]["avg_log2_prob"] is None, d
                continue
            sum_r = sum(r[b] for b in bs)
            n = len(bs)
            q = (2 * abs(sum_r) + n) // (2 * n)
            exp = (-q if sum_r < 0 else q) / 10000.0
            assert got[d]["avg_log2_prob"] == exp, d
            assert got[d]["n_bigrams"] == n, d

    def test_repetitive_doc_scores_higher_than_rare_sequence(self, spark):
        """On the real corpus: common-bigram docs sit above the add-1
        floor assigned to singleton bigrams (directional sanity)."""
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        out = [r for r in TS.bigram_loglik(spark, SF_DIR).collect()
               if r["avg_log2_prob"] is not None]
        assert len(out) > 0
        assert all(r["avg_log2_prob"] < 0 for r in out)


class TestClassifierScore:
    def test_mirror_on_planted_corpus(self, spark):
        import hashlib
        from collections import Counter

        from local_pdftodocx_ocr_spark.operators import textstats as TS

        rows = [(1, "Alpha beta GAMMA alpha"), (2, ""), (3, "delta")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.createOrReplaceTempView("_clf_docs")
        orig = TS._docs
        try:
            TS._docs = lambda spark, sf: spark.table("_clf_docs")
            got = {r["doc_id"]: r
                   for r in TS.classifier_score(spark, "x").collect()}
        finally:
            TS._docs = orig

        def md5_60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def wint(term: str) -> int:
            b = md5_60(term) % TS.CLF_BUCKETS
            return md5_60(f"w{b}") % TS.CLF_WSPAN - 1000

        for d, txt in rows:
            cnt = Counter(t for t in txt.lower().split(" ") if t)
            n = sum(cnt.values())
            if n == 0:
                assert got[d]["n_tokens"] == 0
                assert got[d]["clf_margin"] is None
                assert got[d]["clf_keep"] is True
                continue
            sw = sum(c * wint(t) for t, c in cnt.items())
            q = (2 * abs(sw * 10) + n) // (2 * n)
            exp = (-q if sw < 0 else q) / 10000.0
            assert got[d]["clf_margin"] == exp, d
            assert got[d]["clf_keep"] == (exp >= 0.0), d


class TestRevenueCube:
    def test_cube_equals_union_of_planes(self, spark):
        """The one-pass CUBE must equal the four explicit grouping
        planes (nation+yr, nation, yr, grand total) with the standard
        grouping_id bit layout."""
        from local_pdftodocx_ocr_spark.operators import relational as R
        got = {(r["nation"], r["yr"], r["gid"]): (r["revenue"], r["n"])
               for r in R.revenue_cube(spark, SF_DIR).collect()}
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
        j = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
             .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
             .select(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("int").alias("yr"),
                     "o_totalprice"))
        agg = [F.round(F.sum(F.col("o_totalprice").cast("decimal(24,8)"))
                       .cast("double"), 4).alias("revenue"),
               F.count("*").alias("n")]
        exp = {}
        for keys, gid in ((["nation", "yr"], 0), (["nation"], 1),
                          (["yr"], 2), ([], 3)):
            grouped = j.groupBy(*keys).agg(*agg) if keys else j.agg(*agg)
            for r in grouped.collect():
                exp[(r["nation"] if "nation" in keys else None,
                     r["yr"] if "yr" in keys else None, gid)] = \
                    (r["revenue"], r["n"])
        assert got == exp


class TestRunningUserValue:
    def test_equals_sequential_cumsum(self, spark):
        from collections import defaultdict

        from local_pdftodocx_ocr_spark.operators import relational as R
        got = {r["event_id"]: r["running_value"]
               for r in R.events_running_user_value(spark, SF_DIR).collect()}
        ev = sorted(spark.read.parquet(f"{SF_DIR}/events.parquet")
                    .select("user_id", "event_id", "ts", "value").collect(),
                    key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
        acc = defaultdict(float)
        for r in ev:
            acc[r["user_id"]] += r["value"]
            assert abs(got[r["event_id"]] - round(acc[r["user_id"]], 4)) < 1e-9, \
                r["event_id"]


class TestRound5BroadcastHints:
    """The round-5 queries may hint broadcast ONLY on bounded sides:
    nation (25 rows, SF-invariant) in revenue_cube; the 1-row totals /
    vocab aggregates in dsir_weights / bigram_loglik. Everything that
    scales with the corpus (target ids, term tables, window strings)
    must stay AQE-decided."""

    @staticmethod
    def _n_hints(df) -> int:
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint (strategy=broadcast)")

    def test_hint_counts(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as R
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        assert self._n_hints(R.revenue_cube(spark, SF_DIR)) == 1
        assert self._n_hints(TS.dsir_weights(spark, SF_DIR)) == 1
        assert self._n_hints(TS.bigram_loglik(spark, SF_DIR)) == 1
        assert self._n_hints(TS.classifier_score(spark, SF_DIR)) == 0
        assert self._n_hints(TS.duplicated_span_removal(spark, SF_DIR)) == 0
        assert self._n_hints(R.events_running_user_value(spark, SF_DIR)) == 0

    def test_running_window_is_partitioned(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as R
        plan = (R.events_running_user_value(spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange SinglePartition" not in plan, plan[:2000]
        for ln in plan.splitlines():
            if "Window [" in ln:
                assert "user_id" in ln, ln


class TestWeightedSample:
    """Priority sampling (w/u): the plan must be TakeOrderedAndProject
    (per-partition top-k + a k*P driver merge), never a global sort
    exchange; the selected set must equal a sequential brute-force
    full sort of the identical priority arithmetic."""

    def test_plan_is_take_ordered(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        df = TS.weighted_sample(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan[:2000]
        assert "rangepartitioning" not in plan, plan[:2000]

    def test_equals_sequential_full_sort(self, spark):
        import hashlib

        from local_pdftodocx_ocr_spark.operators import textstats as TS
        docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .select("doc_id", "text").collect())
        pri = []
        for r in docs:
            w = len(r["text"].split(" "))
            h = int(hashlib.md5(str(r["doc_id"]).encode())
                    .hexdigest()[:8], 16)
            # mirror Spark's fold exactly: double(w) * 2^32 is an exact
            # exponent shift, then ONE correctly-rounded division
            pri.append((-(float(w) * 4294967296.0) / (h + 1),
                        r["doc_id"], w, h))
        pri.sort()
        want = {(d, w, h) for _, d, w, h in pri[:TS.WSAMPLE_K]}
        got = {(r["doc_id"], r["n_tokens"], r["u_hash"])
               for r in TS.weighted_sample(spark, SF_DIR).collect()}
        assert got == want


class TestPerplexityBuckets:
    """CCNet head/middle/tail from the histogram sketch: bucket
    boundaries must respect the tertile rank guarantees and the
    assignment must be monotone in the perplexity bin."""

    def test_tertile_ranks_and_monotonicity(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        rows = TS.perplexity_buckets(spark, SF_DIR).collect()
        n = len(rows)
        by = {"head": [], "middle": [], "tail": []}
        for r in rows:
            by[r["bucket"]].append(r["ppl_bin"])
        # cut construction: cum(b1) >= ceil(n/3), cum(b2) >= ceil(2n/3)
        assert len(by["head"]) >= (n + 2) // 3
        assert len(by["head"]) + len(by["middle"]) >= (2 * n + 2) // 3
        assert by["tail"], "tail must be non-empty on this corpus"
        if by["middle"]:
            assert max(by["head"]) < min(by["middle"])
            assert max(by["middle"]) < min(by["tail"])
        else:
            assert max(by["head"]) < min(by["tail"])

    def test_plan_stays_jvm(self, spark):
        from local_pdftodocx_ocr_spark.operators import textstats as TS
        from local_pdftodocx_ocr_spark.plans import asserts as plan_asserts
        plan = plan_asserts.executed_plan(
            TS.perplexity_buckets(spark, SF_DIR))
        assert "EvalPython" not in plan, plan


class TestTypeTransitions:
    """Markov transition matrix: the LAG window must stay partitioned
    (per-user bounded state) and the conditional probabilities must be
    a proper distribution per prev_type."""

    def test_window_is_partitioned(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as R
        plan = (R.events_type_transitions(spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange SinglePartition" not in plan, plan[:2000]
        for ln in plan.splitlines():
            if "Window [" in ln:
                assert "user_id" in ln, ln

    def test_rows_form_distribution(self, spark):
        from collections import defaultdict

        from local_pdftodocx_ocr_spark.operators import relational as R
        rows = R.events_type_transitions(spark, SF_DIR).collect()
        n_events = (spark.read.parquet(f"{SF_DIR}/events.parquet").count())
        n_users = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                   .select("user_id").distinct().count())
        assert sum(r["n"] for r in rows) == n_events - n_users
        psum = defaultdict(float)
        for r in rows:
            psum[r["prev_type"]] += r["p"]
        for prev, s in psum.items():
            # quantized p: each row is within 5e-5 of exact
            assert abs(s - 1.0) < 5e-5 * 25, (prev, s)


class TestPropsJson:
    """JSON path extraction must stay JVM-side (whole-stage codegen,
    no Python eval) and the plan must carry exactly one exchange —
    the bounded-key aggregation's."""

    def test_plan_jvm_single_exchange(self, spark):
        from local_pdftodocx_ocr_spark.operators import relational as R
        from local_pdftodocx_ocr_spark.plans import asserts as plan_asserts
        df = R.events_props_json(spark, SF_DIR)
        plan = plan_asserts.executed_plan(df)
        assert "EvalPython" not in plan, plan
        assert plan_asserts.count_exchanges(df) == 1, plan
        rows = df.collect()
        # types x deciles bound: the synthetic table has 5 types, k in [0,99]
        assert 0 < len(rows) <= 5 * 10
        assert sum(r["n"] for r in rows) == \
            spark.read.parquet(f"{SF_DIR}/events.parquet").count()


class TestQualityRounding:
    """The 4-place quality score agrees with its DuckDB oracle on
    generated documents, whose short texts hit half-way scores (the
    seeds hold docs where each engine's ROUND of the double itself
    gives 0.3798 against 0.3797)."""

    @pytest.mark.parametrize("seed", [2, 42])
    def test_matches_oracle_on_generated_documents(self, spark, tmp_path, seed):
        import duckdb

        from local_pdftodocx_ocr_spark.operators import textstats as TS
        from perfbench import inputs

        path = str(tmp_path / "documents.parquet")
        inputs.write_documents(inputs.documents_rows(seed, 1000), path)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        got = sorted(map(tuple, TS.quality_score(spark, str(tmp_path)).collect()))
        assert got == sorted(con.execute(TS.QUALITY_SQL).fetchall())
        got = sorted(map(tuple, TS.curriculum_phases(spark, str(tmp_path)).collect()))
        assert got == sorted(con.execute(TS.CURRICULUM_SQL).fetchall())
