"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "suite_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Execution is forced through the noop sink (full computation, no driver
collect).  Two extra entries beyond the driver catalog measure the
engine's one inherited algorithmic claim (binned range join beats the
nested-loop plan on large×large):

- selfjoin_binned: event_spans x event_spans overlap join at full sf
  via the binned equi-join rewrite;
- selfjoin_bnl_sample: the same join on a 1/16 sample through the
  BroadcastNestedLoopJoin plan (full-size BNLJ is O(n^2) and would not
  finish) — scale the per-pair cost x256 to compare.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mt_probe_work(_i: int) -> float:
    # module-level so multiprocessing can pickle it; same fixed
    # workload as the single-thread probe (~0.1s on a quiet core)
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    assert x >= 0
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from dataframeintervals_jl_spark import get_spark, interval_join
    from dataframeintervals_jl_spark.queries import QUERIES
    from dataframeintervals_jl_spark.sources import event_spans

    spark = get_spark(app_name="dfi_bench", cpus=cpus)

    # untimed warmup: touch every input table and run one tiny action so
    # scan metadata + JVM JIT + Arrow init are paid before the first
    # measured query (previously ~5s of warmup was booked onto whichever
    # query ran first)
    from dataframeintervals_jl_spark.sources import TABLES, read_table as _rt

    for t in TABLES:
        try:
            _rt(spark, sf_dir, t).limit(1).count()
        except Exception:
            pass  # missing/drifted table surfaces per-query below

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    probes: dict[str, float] = {}

    # prior per-query records (the committed BENCH_LOCAL.json from the
    # last run) steer SAMPLING only, never reporting: a min still above
    # 1.5x its record after two samples earns extra tries (bounded at
    # 5) — absorbs cold-codegen first samples and one-off steal bursts
    # that best-of-2 cannot (q_shingle_dup_pairs measured [21.1, 12.6,
    # 2.9] in one quiet session: the third sample IS the honest one).
    _sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_LOCAL.json",
            )
        ) as _fh:
            _prior_rec = json.load(_fh)
        # records from a DIFFERENT scale factor must not steer sampling
        # (an sf0.01 record would flag every sf0.1 min as 'too slow'
        # and waste 3 extra samples per query)
        # steer by the rolling per-query BEST (kept separately from
        # the honest per-run record): one noisy run must not lower the
        # bar for the next run's sampling (observed: a 7.6s steal-era
        # record let a 6.9s min pass unchallenged while the true
        # steady state is 1.8s)
        _prior = (
            _prior_rec.get("best_queries") or _prior_rec.get("queries", {})
            if str(_prior_rec.get("sf")) == _sf_tag
            else {}
        )
    except Exception:
        _prior = {}

    def _cpu_probe() -> float:
        # fixed single-thread workload (~0.1s on a quiet core): a
        # contemporaneous host-steal indicator recorded per query slot,
        # so a slow query with a slow probe reads as environment noise
        # and a slow query with a normal probe reads as regression
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i
        assert x >= 0
        return round(time.perf_counter() - t0, 4)

    def _mt_probe(nproc: int | None = None):
        # MULTI-CORE contention probe (round-10): the round-8/9 steal
        # episodes showed QUIET single-thread probes (0.06-0.08) while
        # 32-way stages ran 3-6x slow — single-core probing cannot see
        # multi-core-level contention.  Run the same fixed workload in
        # nproc forked processes simultaneously; on a quiet host the
        # wall time ≈ one worker's time (cores are free), under
        # co-tenant load the wall inflates even though each worker's
        # own cpu time stays near-quiet.  Returns (wall, max worker).
        import multiprocessing as _mp

        n = nproc or min(cpus, os.cpu_count() or 8)
        t0 = time.perf_counter()
        try:
            with _mp.get_context("fork").Pool(n) as pool:
                per = pool.map(_mt_probe_work, range(n))
        except Exception:
            return None
        wall = time.perf_counter() - t0
        per = sorted(per)
        return {
            "n": n,
            "wall": round(wall, 4),
            "median_worker": round(per[len(per) // 2], 4),
            "max_worker": round(per[-1], 4),
        }

    mt_probes: list = []

    # SPARK_GRAFT_BENCH_ONLY=q_a,q_b times only the named entries (an
    # iteration/smoke helper — the driver never sets it); every other
    # bench() call returns immediately
    _only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }

    def bench(name, build, quiet_cap=8):
        if _only and name not in _only:
            return
        # best of 2 (3 when the two samples disagree >2x): the host
        # shows bursty CPU steal (identical queries measured 3.3s and
        # 23.9s minutes apart — see BASELINE.md measurement protocol);
        # min-of-k is the robust estimator under strictly additive
        # noise, and the extra sample keeps one stolen run from
        # polluting even the min.  Per-query [min, max] spread is
        # recorded so noise is distinguishable from regression.
        #
        # FAULT-ISOLATED: one query raising must not lose the other 48
        # timings — round 3's record was wiped (rc 1, no JSON) because
        # the first query hit a testdata schema drift and the exception
        # escaped the whole harness.  Failures land in "errors" and the
        # run continues.
        probes[name] = _cpu_probe()
        samples = []

        def one():
            t0 = time.time()
            _force(build())
            samples.append(time.time() - t0)
            # operators persist reused intermediates (minhash bands, LSH
            # buckets, ...); drop them between runs so storage-memory
            # pressure from query N doesn't tax query N+1's timing
            spark.catalog.clearCache()
            # the ANN family also registers its persisted intermediates;
            # drain the registry so Python-side DataFrame refs (lineage)
            # don't accumulate across the suite
            try:
                from dataframeintervals_jl_spark.operators.similarity import (
                    release_ann_caches,
                )

                release_ann_caches()
            except Exception:
                pass
            # localCheckpoint blocks (pagerank / triangle counts /
            # frequency_rank materialization) are NOT freed by
            # clearCache — only by the ContextCleaner after JVM GC.
            # Without this hint, checkpoint debris from run N makes run
            # N+1 bimodal (measured q_pagerank 4.8-6.7s with GC between
            # runs vs 5-23s without, quiet cpu_probe both times).
            # CONDITIONAL: a full System.gc() after every light query
            # measured ~5% net drag in an alternating A/B, so the hint
            # fires only when the block manager actually holds leftover
            # RDD blocks (getRDDStorageInfo is 0 after clearCache for
            # queries that checkpoint nothing).
            try:
                debris = len(
                    spark.sparkContext._jsc.sc().getRDDStorageInfo()
                )
            except Exception:
                debris = 0
            if debris:
                import gc as _gc

                _gc.collect()
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass

        try:
            one()
            one()
            if max(samples) > 2 * min(samples):
                one()
            # a sustained host-steal window slows BOTH samples equally,
            # so the disagreement rule never fires; no catalog query
            # costs >8s on a quiet host (heaviest quiet reading: ~5.7s;
            # a steal window was observed slowing BOTH samples of a
            # 1.8s query to 10.6s), so a min above 8s earns up to three
            # more chances to land outside the window (bounded at 5
            # samples).  quiet_cap parameterizes the 8s for entries
            # that legitimately run longer (the x10 scale block).
            rec = _prior.get(name)
            while (
                min(samples) > quiet_cap
                or (rec and rec > 0.05 and min(samples) > 1.5 * rec)
            ) and len(samples) < 5:
                one()
        except Exception as exc:  # noqa: BLE001 — record and move on
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            return
        timings[name] = round(min(samples), 3)
        spreads[name] = [round(min(samples), 3), round(max(samples), 3)]

    mt_probes.append(_mt_probe())
    for name, (fn, _) in QUERIES.items():
        bench(name, lambda fn=fn: fn(spark, sf_dir))
    mt_probes.append(_mt_probe())

    # large x large SELECTIVE case: ~100k minute-capped spans x ~100k
    # 1-second probes = 1e10 candidate pairs, ~330k matches.  BNLJ must
    # evaluate every pair (did not finish in 400s at sf0.1); the binned
    # rewrite meets only same-bin pairs (~1.3s).  BNLJ is therefore
    # timed on a 2% left sample (2e8 pairs) — multiply by 50 for the
    # full-size estimate.  NOTE: joining es x fine-tiling windows is NOT
    # a good discriminator: event spans average ~11h, so 10k windows
    # produce a 14.6M-row result and both strategies are output-bound.
    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.sources import read_table

    minute = 60_000_000_000

    def _selective_es():
        return event_spans(spark, sf_dir).select(
            "event_id",
            make_span(
                F.col("span.start"),
                F.least(F.col("span.stop"), F.col("span.start") + F.lit(minute)),
            ).alias("span"),
        )

    def _selective_probes():
        return read_table(spark, sf_dir, "events").select(
            F.col("event_id").alias("probe_id"),
            make_span(
                F.col("ts") - 500_000_000, F.col("ts") + 500_000_000
            ).alias("span"),
        )

    bench(
        "selective_binned",
        lambda: interval_join(
            _selective_es(),
            _selective_probes(),
            validate="skip",
            strategy="binned",
            renamecols=("", "_p"),
        ),
    )
    bench(
        "selective_bnl_2pct",
        lambda: interval_join(
            _selective_es().sample(0.02, seed=7),
            _selective_probes(),
            validate="skip",
            strategy="broadcast_right",
            renamecols=("", "_p"),
        ),
    )

    # keyed self-overlap: per-user es x es.  interval_join_by
    # co-partitions on the key (equi join, overlap residual) vs the
    # global binned join followed by a key-equality filter, which
    # generates cross-user candidates only to discard them — the gap
    # grows with key cardinality, so the keyed operator is the shape
    # that survives 100 TB.
    from dataframeintervals_jl_spark import interval_join_by

    def _esk():
        return event_spans(spark, sf_dir).select("user_id", "event_id", "span")

    def _esk2():
        return _esk().select(
            "user_id", F.col("event_id").alias("event_id_r"), "span"
        )

    bench(
        "keyed_selfjoin_by",
        lambda: interval_join_by(
            _esk(), _esk2(), by="user_id", validate="skip", strategy="hash"
        ),
    )
    bench(
        "keyed_selfjoin_via_binned",
        lambda: interval_join(
            _esk(),
            _esk2().withColumnRenamed("user_id", "user_id_r"),
            validate="skip",
            strategy="binned",
        ).filter(F.col("user_id") == F.col("user_id_r")),
    )

    # planner auto-pick probes (round 8): strategy='auto' must land on
    # (or beat) the better manual plan on both discriminator cases —
    # the global selective join (binned wins; BNLJ is ~100x) and the
    # keyed self-join (hash/broadcast wins; forced binning pays an
    # explode for nothing).  Auto's probe cost (plan stats, counted
    # stats, the exact per-key pair-work aggregate when both sides are
    # large) is INCLUDED in the timing — the comparison is end-to-end.
    bench(
        "selective_auto",
        lambda: interval_join(
            _selective_es(),
            _selective_probes(),
            validate="skip",
            strategy="auto",
            renamecols=("", "_p"),
        ),
    )
    bench(
        "keyed_selfjoin_auto",
        lambda: interval_join_by(
            _esk(), _esk2(), by="user_id", validate="skip", strategy="auto"
        ),
    )

    # AQE skew-join stress: zipf-ish keyed join — HALF of all spans land
    # on key 0, the rest spread over ~750 keys, so one shuffle partition
    # carries ~33x the median.  Joined (key-equi + overlap residual)
    # against 256 windows per key through the sort-merge path (broadcast
    # disabled), the hot partition is a single straggler task unless AQE
    # splits it.  Thresholds are scaled to sf0.1 partition sizes (the
    # 256MB default never fires on test-scale data); at 100 TB the
    # defaults fire on their own.  Recorded off-then-on so the split's
    # effect is a measured number, not a doc claim.
    try:
        # x8 replication (jittered starts so replicas aren't identical):
        # at sf0.1 the raw hot partition is <1s of work and task overhead
        # dominates, which INVERTS the off/on comparison; the replicated
        # hot key carries ~400k spans (~20MB shuffled), making the
        # straggler real while the median partition stays small.
        skew_left = (
            event_spans(spark, sf_dir)
            .crossJoin(spark.range(8).select(F.col("id").alias("__rep")))
            .select(
                F.when(F.col("user_id") % 2 == 0, F.lit(0))
                .otherwise(F.col("user_id"))
                .cast("long")
                .alias("k"),
                (F.col("event_id") * 8 + F.col("__rep")).alias("event_id"),
                make_span(
                    F.col("span.start") + F.col("__rep") * F.lit(minute),
                    F.least(
                        F.col("span.stop") + F.col("__rep") * F.lit(minute),
                        F.col("span.start") + (F.col("__rep") + 1) * F.lit(minute),
                    ),
                ).alias("span"),
            )
        )
        rng = skew_left.agg(
            F.min(F.col("span.start")).alias("lo"),
            F.max(F.col("span.stop")).alias("hi"),
        ).first()
        width = (rng["hi"] - rng["lo"]) // 256 + 1
        windows = (
            skew_left.select("k")
            .distinct()
            .crossJoin(spark.range(256).select(F.col("id").alias("w")))
            .select(
                "k",
                F.col("w").alias("window_id"),
                make_span(
                    F.lit(rng["lo"]) + F.col("w") * F.lit(width),
                    F.lit(rng["lo"]) + (F.col("w") + 1) * F.lit(width),
                ).alias("span"),
            )
        )
        skew_confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        }
        saved = {k: spark.conf.get(k) for k in skew_confs}
        saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
            "spark.sql.adaptive.skewJoin.enabled"
        )
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        for mode in ("off", "on"):
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(mode == "on").lower()
            )
            bench(
                f"skew_join_aqe_{mode}",
                lambda: interval_join_by(
                    skew_left, windows, by="k", validate="skip", strategy="hash"
                ),
            )
        for k, v in saved.items():
            spark.conf.set(k, v)
    except Exception as exc:  # noqa: BLE001
        errors["skew_join_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # storage-layout probe: write event spans (a) range-partitioned +
    # sorted on span.start (write_sorted_spans) vs (b) hash-scattered,
    # then measure — from the parquet FOOTERS, the exact artifact the
    # engine's pruning runs on — how many files / row groups a 5%
    # time-slice read must touch.  Wall time cannot show this at test
    # scale (decoding 100k rows is sub-second either way); the footer
    # stats are scale-faithful: at 100 TB the surviving-file fraction
    # IS the scan cost.  Recorded per round under "layout" so a lost
    # sort or lost statistics regression shows as a number
    # (sf0.1 record: sorted 4/64 files survive, scattered 64/64).
    layout = {}
    try:
        import glob as _glob
        import shutil as _shutil

        import pyarrow.parquet as _pq

        from dataframeintervals_jl_spark.sources.sinks import (
            write_sorted_spans,
        )

        _lay = "/tmp/dfi_bench_layout"
        _shutil.rmtree(_lay, ignore_errors=True)
        es_all = event_spans(spark, sf_dir)
        write_sorted_spans(es_all, _lay + "/sorted", n_files=64)
        es_all.repartition(64).write.mode("overwrite").parquet(
            _lay + "/scattered"
        )
        rng2 = es_all.agg(
            F.min(F.col("span.start")).alias("lo"),
            F.max(F.col("span.stop")).alias("hi"),
        ).first()
        slice_lo = rng2["lo"] + (rng2["hi"] - rng2["lo"]) * 45 // 100
        slice_hi = rng2["lo"] + (rng2["hi"] - rng2["lo"]) * 50 // 100

        def _prune_stats(path):
            files = _glob.glob(path + "/*.parquet")
            surv_f = tot_rg = surv_rg = 0
            for f in files:
                md = _pq.ParquetFile(f).metadata
                rgs = []
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        col = rg.column(j)
                        if col.path_in_schema == "span.start":
                            st = col.statistics
                            rgs.append((st.min, st.max))
                tot_rg += len(rgs)
                s_rg = sum(
                    1
                    for mn, mx in rgs
                    if mn < slice_hi and mx >= slice_lo
                )
                surv_rg += s_rg
                if s_rg:
                    surv_f += 1
            return {
                "files_total": len(files),
                "files_read": surv_f,
                "row_groups_total": tot_rg,
                "row_groups_read": surv_rg,
            }

        layout = {
            "sorted": _prune_stats(_lay + "/sorted"),
            "scattered": _prune_stats(_lay + "/scattered"),
        }
        _shutil.rmtree(_lay, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["layout_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # frequency_rank scale probe (VERDICT r5 #7): rank an INFLATED
    # vocabulary through the distributed prefix-offset rank vs the
    # single-partition global window, so the distributed plan's
    # advantage is a recorded number per round, not just a plan
    # assertion.  ~2.6M distinct terms is exactly the axis a
    # `row_number() OVER (ORDER BY ...)` with no PARTITION BY funnels
    # through one task.
    #
    # MEASUREMENT FIX (round 12, VERDICT r11 #6): the previous fixture
    # tokenized the corpus, grouped per-(doc, term) and crossJoined x30
    # INSIDE the timed region — ~5.5s/entry of which the rank operator
    # was a fraction, polluting the 12-slowest headline.  The fixture
    # is now a spark.range projection (deterministic terms; 20-way tie
    # structure via a portable hash), so the timed region is the rank
    # operator itself.  The distributed-vs-single-window comparison is
    # unchanged — both entries rank the SAME fixture.  Old readings
    # (fixture-dominated): distributed 4.47-5.5s vs single 4.54-5.58s.
    try:
        from pyspark.sql import Window as _W

        from dataframeintervals_jl_spark.operators.ranking import (
            frequency_rank,
        )

        def _vocab_big():
            return spark.range(2_600_000).select(
                F.concat(F.lit("t"), F.col("id").cast("string")).alias(
                    "term"
                ),
                (
                    F.lit(1)
                    + F.pmod(F.xxhash64(F.col("id")), F.lit(20))
                ).cast("long").alias("count"),
            )

        bench(
            "vocab_big_rank_distributed",
            lambda: frequency_rank(
                _vocab_big(), count_col="count", tie_col="term",
                rank_col="rank",
            ),
        )
        bench(
            "vocab_big_rank_single_window",
            lambda: _vocab_big().select(
                "term",
                "count",
                (
                    F.row_number().over(
                        _W.orderBy(F.col("count").desc(), F.col("term"))
                    )
                    - 1
                ).cast("long").alias("rank"),
            ),
        )
    except Exception as exc:  # noqa: BLE001
        errors["vocab_big_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # join-size planning probe: the CMS inner-product estimate
    # (cms_join_size — two register aggregations, the data read once
    # each, NO join) vs actually running the equi-join on a 16x
    # key-replicated event table.  At test scale the actual join is
    # CHEAP (both sides shuffle in one wave), so wall time alone
    # cannot show the estimator's value — the scale-faithful numbers
    # recorded alongside are the register-table size (bounded at
    # depth·width rows per side regardless of input) and the estimate
    # accuracy; at 100 TB the avoided cost is the join's shuffle and
    # output materialization.
    join_size = {}
    try:
        from dataframeintervals_jl_spark.operators.sampling import (
            cms_join_size,
            cms_registers,
        )

        _JS_W, _JS_D = 65536, 4

        def _js_side(et):
            ev = read_table(spark, sf_dir, "events")
            return (
                ev.filter(F.col("event_type") == et)
                .crossJoin(spark.range(16).select(F.col("id").alias("__rep")))
                .select(
                    (F.col("user_id") * 16 + F.col("__rep")).alias("user_id")
                )
            )

        def _js_regs(et):
            return cms_registers(_js_side(et), "user_id", _JS_W, _JS_D)

        bench(
            "join_size_cms_estimate",
            lambda: cms_join_size(
                _js_regs("click"), _js_regs("purchase"), _JS_W, _JS_D
            ),
        )
        bench(
            "join_size_actual_join",
            lambda: _js_side("click")
            .join(_js_side("purchase"), "user_id")
            .agg(F.count(F.lit(1)).alias("join_rows")),
        )
        # ONE extra pass records the accuracy numbers (bench() is
        # fault-isolated and discards results, so values cannot be
        # captured from its timed runs); est and actual share the job
        acc = (
            cms_join_size(
                _js_regs("click"), _js_regs("purchase"), _JS_W, _JS_D
            )
            .crossJoin(
                _js_side("click")
                .join(_js_side("purchase"), "user_id")
                .agg(F.count(F.lit(1)).alias("join_rows"))
            )
            .first()
        )
        join_size = {
            "est_rows": int(acc["join_rows_est"]),
            "actual_rows": int(acc["join_rows"]),
            "register_rows_bound": _JS_W * _JS_D,
        }
    except Exception as exc:  # noqa: BLE001
        errors["join_size_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # BPE linear-rounds probe (round 8): learn_bpe_merges checkpoints
    # its vocabulary lineage every few rounds, so per-round cost must
    # be CONSTANT in the round number — recorded as the marginal
    # per-round seconds between an 8-merge and a 64-merge run on the
    # same corpus slice (superlinear plan growth would blow t64 up).
    bpe_linear = {}
    try:
        from dataframeintervals_jl_spark.operators.bpe import (
            learn_bpe_merges,
        )
        from dataframeintervals_jl_spark.sources import read_table as _rt

        _bpe_docs = _rt(spark, sf_dir, "documents").filter(
            F.pmod(F.col("doc_id"), F.lit(8)) == 0
        )
        _t0 = time.time()
        _m8 = learn_bpe_merges(_bpe_docs, 8)
        _t8 = time.time() - _t0
        _t0 = time.time()
        _m64 = learn_bpe_merges(_bpe_docs, 64)
        _t64 = time.time() - _t0
        spark.catalog.clearCache()
        bpe_linear = {
            "t8_sec": round(_t8, 3),
            "t64_sec": round(_t64, 3),
            "marginal_per_round_sec": round((_t64 - _t8) / 56, 4),
            "prefix_stable": _m64[:8] == _m8,
        }
    except Exception as exc:  # noqa: BLE001
        errors["bpe_linear_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # maintenance-query cost split (round 9): the catalog timings for
    # the index/sink maintenance entries are FIXTURE-DOMINATED (the
    # query rebuilds its index per run so the driver gate stays
    # hermetic).  Recorded here separately so round-over-round
    # comparisons track the serving path: build_sec = one fixture
    # construction, probe_sec = best-of-2 reads against it.
    maintenance = {}
    try:
        import shutil as _sh

        from dataframeintervals_jl_spark.operators.sampling import (
            cms_merge_registers,
            cms_registers,
        )
        from dataframeintervals_jl_spark.operators.similarity import (
            append_lsh_index,
            lsh_rerank_topk_indexed,
            write_lsh_index,
        )
        from dataframeintervals_jl_spark.queries import _fixture_scratch
        from dataframeintervals_jl_spark.sources.sinks import (
            compact_table,
            read_register_index,
            update_register_index,
        )

        def _split(name, build, probe):
            t0 = time.time()
            build()
            b = round(time.time() - t0, 3)
            ps = []
            for _ in range(2):
                t0 = time.time()
                _force(probe())
                ps.append(time.time() - t0)
                spark.catalog.clearCache()
            maintenance[name] = {
                "build_sec": b,
                "probe_sec": round(min(ps), 3),
            }

        emb = read_table(spark, sf_dir, "embeddings")
        qv = emb.filter(F.col("vec_id") < 5)
        lshp = _fixture_scratch(sf_dir, "lsh_maint_bench")

        def _build_lsh():
            _sh.rmtree(lshp, ignore_errors=True)
            third = F.pmod(F.col("vec_id"), F.lit(3))
            write_lsh_index(
                emb.filter(third == 0), lshp, dim=64, n_planes=8, n_tables=4
            )
            append_lsh_index(emb.filter(third == 1), lshp, 0)
            append_lsh_index(emb.filter(third == 2), lshp, 1)

        _split(
            "similarity_lsh_maintained",
            _build_lsh,
            lambda: lsh_rerank_topk_indexed(
                spark, lshp, qv, k=5, probe_radius=3
            ),
        )

        ev = read_table(spark, sf_dir, "events")
        regp = _fixture_scratch(sf_dir, "cms_reg_bench")

        def _build_reg():
            _sh.rmtree(regp, ignore_errors=True)
            for m in (0, 1):
                update_register_index(
                    spark,
                    regp,
                    cms_registers(
                        ev.filter(F.col("event_id") % 2 == m),
                        "user_id",
                        width=256,
                        depth=4,
                    ),
                    cms_merge_registers,
                )

        _split(
            "register_index_update",
            _build_reg,
            lambda: read_register_index(spark, regp).select(
                "__row", "__bkt", "__cnt"
            ),
        )

        docs_m = read_table(spark, sf_dir, "documents")
        fragp = _fixture_scratch(sf_dir, "compact_frag_bench")
        outp = _fixture_scratch(sf_dir, "compact_out_bench")

        def _build_compact():
            _sh.rmtree(fragp, ignore_errors=True)
            _sh.rmtree(outp, ignore_errors=True)
            docs_m.repartition(64).write.mode("overwrite").parquet(fragp)
            compact_table(spark, fragp, outp, sort_cols=["doc_id"])

        _split(
            "compact_roundtrip",
            _build_compact,
            lambda: spark.read.parquet(outp).groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            ),
        )
    except Exception as exc:  # noqa: BLE001
        errors["maintenance_split_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # Arrow BPE tokenizer at real vocabulary scale (round 9): 8k merges
    # ride the task closure; per-word cost is O(applied merges) with
    # per-worker memoization, so this must stay in the same band as the
    # catalog's 64-merge q_apply_bpe_vocab rather than scaling with the
    # merge count (the literal-replace chain CANNOT run this size).
    try:
        from dataframeintervals_jl_spark.operators.bpe import (
            bpe_tokenize,
            synthetic_merges,
        )
        from dataframeintervals_jl_spark.sources import ensure_parallelism

        _m8k = synthetic_merges(8192)
        bench(
            "bpe_tokenize_8k",
            lambda: bpe_tokenize(
                ensure_parallelism(read_table(spark, sf_dir, "documents")),
                _m8k,
            ).select("doc_id", F.size("tokens").alias("n_tokens")),
        )
    except Exception as exc:  # noqa: BLE001
        errors["bpe_tokenize_setup"] = f"{type(exc).__name__}: {exc}"[:500]

    # approximation-quality tracking: recall@k of the ANN paths vs the
    # exact brute-force top-k, recorded per round so speedups that trade
    # away recall are visible (floors asserted in pytest)
    from dataframeintervals_jl_spark.queries import (
        q_similarity_ivf,
        q_similarity_lsh,
        q_similarity_lsh_rerank,
        q_similarity_pq,
        q_similarity_pq_rerank,
        q_similarity_topk,
    )

    recall = {}
    try:
        from dataframeintervals_jl_spark.operators.similarity import (
            ivf_pq_topk as _ivfpq,
        )

        def _q_ivfpq_coarse(by_residual):
            # FULL probe + coarse codes (m_sub=8): cell pruning is off,
            # so this recall row isolates ENCODING quality — the axis
            # by_residual moves (round 9)
            def f(spark, sf_dir):
                emb = read_table(spark, sf_dir, "embeddings")
                qs = emb.filter(F.col("vec_id") < 5)
                return _ivfpq(
                    emb, qs, n_centroids=8, n_probe=8, m_sub=8, ks=64,
                    k=5, by_residual=by_residual,
                )

            return f

        exact = {
            (r["q_id"], r["n_id"])
            for r in q_similarity_topk(spark, sf_dir).collect()
        }
        for nm, qf in (
            ("lsh", q_similarity_lsh),
            ("lsh_rerank", q_similarity_lsh_rerank),
            ("ivf", q_similarity_ivf),
            ("pq", q_similarity_pq),
            ("pq_rerank", q_similarity_pq_rerank),
            ("ivfpq_raw_coarse", _q_ivfpq_coarse(False)),
            ("ivfpq_residual_coarse", _q_ivfpq_coarse(True)),
        ):
            approx = {(r["q_id"], r["n_id"]) for r in qf(spark, sf_dir).collect()}
            recall[nm] = round(len(approx & exact) / max(len(exact), 1), 4)

        # CLUSTERED fixture (round 11, VERDICT r10 #5): the shipped
        # embeddings are near-isotropic, so residual encoding cannot
        # show its win on them at bench scale.  Fixture design notes
        # (each constraint found by measurement, numpy-replicated
        # against the engine's own kernels):
        # - centers are WALSH sign patterns (pairwise orthogonal —
        #   hash-pattern centers were cosine-correlated and the
        #   spherical coarse k-means merged them);
        # - vectors UNIT-NORMALIZED after adding noise — the coarse
        #   quantizer is spherical (unit centroids), so an un-normalized
        #   fixture leaves ||x − centroid|| ≈ ||x|| and the residual
        #   encodes nothing;
        # - 16 clusters at ks=64 make codebook capacity the binding
        #   constraint: raw codes split 64 codewords between cluster
        #   structure and noise, residual codes spend all 64 on noise.
        # Measured at sf0.1 full-probe: raw 0.16 vs residual 0.32.
        from dataframeintervals_jl_spark.operators.similarity import (
            cosine_topk as _cos_topk,
        )

        def _clustered(spark, sf_dir):
            emb = read_table(spark, sf_dir, "embeddings")
            c = (F.col("vec_id") % 16).cast("long")
            raw_v = F.transform(
                F.col("embedding"),
                lambda x, i: x
                + F.when(
                    F.bit_count(c.bitwiseAND((i % 16).cast("long"))) % 2
                    == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)),
            )
            return (
                emb.select("vec_id", raw_v.alias("__r"))
                .select(
                    "vec_id",
                    "__r",
                    F.sqrt(
                        F.aggregate(
                            "__r", F.lit(0.0), lambda a, b: a + b * b
                        )
                    ).alias("__n"),
                )
                .select(
                    "vec_id",
                    F.transform(
                        "__r", lambda x: x / F.col("__n")
                    ).alias("embedding"),
                )
            )

        cemb = _clustered(spark, sf_dir).persist()
        cqs = cemb.filter(F.col("vec_id") < 5)
        cexact = {
            (r["q_id"], r["n_id"])
            for r in _cos_topk(cemb, cqs, k=5).collect()
        }
        for nm, br in (
            ("ivfpq_raw_coarse_clustered", False),
            ("ivfpq_residual_coarse_clustered", True),
        ):
            approx = {
                (r["q_id"], r["n_id"])
                for r in _ivfpq(
                    cemb, cqs, n_centroids=16, n_probe=16, m_sub=8,
                    ks=64, k=5, by_residual=br,
                ).collect()
            }
            recall[nm] = round(
                len(approx & cexact) / max(len(cexact), 1), 4
            )
        cemb.unpersist()
    except Exception as exc:  # noqa: BLE001
        errors["recall"] = f"{type(exc).__name__}: {exc}"[:500]

    # -------- 10x scale block (round 12, VERDICT r11 #3) --------
    # sf0.1 sits at the scheduling floor: core-scaling ratios ≈1 across
    # the whole suite and an 8-core run beat a 32-core run end-to-end
    # in r11, so per-query seconds can no longer discriminate real
    # optimizations for the heavy families.  Synthesize a 10x dataset
    # (10 tagged copies per tools/scale_probe.py — independent corpora
    # and user populations, the event timeline laid end-to-end) in an
    # UNTIMED build, then time five heavy-family queries over it with
    # the same bench() harness.  The 10x tables are recomputed from the
    # parquet inputs on EVERY invocation and deleted afterwards —
    # nothing persists across runs, so this is scale measurement, not
    # precomputation.  Additions-only: no existing entry changes.
    x10_dir = "/tmp/dfi_bench_x10"
    _x10_entries = [
        "q_masked_twa",            # stab/validity windows family
        "q_interval_join_binned",  # binned overlap join
        "q_minhash_lsh_pairs",     # shingle/minhash shuffle
        "q_dedup_clusters",        # LSH pairs -> connected components
        "q_global_rank",           # value-range-bucketed global rank
    ]
    try:
        if not _only or any(f"x10_{n}" in _only for n in _x10_entries):
            import importlib.util as _ilu

            _spp = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tools",
                "scale_probe.py",
            )
            _spec = _ilu.spec_from_file_location("dfi_scale_probe_mod", _spp)
            _spm = _ilu.module_from_spec(_spec)
            _spec.loader.exec_module(_spm)
            spark.sparkContext.setJobDescription("x10 fixture build")
            _spm.build_scaled(
                spark,
                10,
                out=x10_dir,
                src_dir=sf_dir,
                tables=("documents", "events", "embeddings"),
            )
            spark.sparkContext.setJobDescription(None)
            for _n in _x10_entries:
                _xfn = QUERIES[_n][0]
                bench(
                    f"x10_{_n}",
                    lambda _xfn=_xfn: _xfn(spark, x10_dir),
                    quiet_cap=60,
                )
    except Exception as exc:  # noqa: BLE001
        errors["x10_setup"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        import shutil as _sh_x10

        _sh_x10.rmtree(x10_dir, ignore_errors=True)

    mt_probes.append(_mt_probe())
    spark.stop()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # the catalog grows every round; r1_catalog_sec keeps an
    # apples-to-apples subtotal over the round-1 query set so suite
    # growth from NEW queries is not mistaken for a perf regression
    # when compared against BASELINE.md / BENCH_r01
    r1_set = {
        "q_asof_join", "q_dedup_exact", "q_dfspan", "q_embedding_neardup",
        "q_embedding_neardup_lsh", "q_groupby_interval_join_agg",
        "q_interval_join_binned", "q_interval_join_closed",
        "q_interval_join_full", "q_interval_join_inner",
        "q_interval_join_keepleft", "q_interval_join_keepright", "q_lang_id",
        "q_lineitem_interval_agg", "q_minhash_lsh_pairs",
        "q_multimodal_features", "q_multimodal_frames", "q_multimodal_meta",
        "q_orders_interval_join", "q_quality_score", "q_quantile_windows",
        "q_rolling_fingerprint", "q_sessionize", "q_simhash_pairs",
        "q_similarity_ivf", "q_similarity_lsh", "q_similarity_topk",
        "q_stream_sessionize", "q_text_quality", "q_text_token_stats",
        "q_training_prep", "selective_binned", "selective_bnl_2pct",
    }
    best_queries = {
        k: round(min(v, _prior.get(k, v)), 3) for k, v in timings.items()
    }
    # DEGRADATION ANNOTATION (round-10, VERDICT r9 #5): a reading
    # >1.5x its rolling best while the single-thread probe was QUIET is
    # the established co-tenant signature (multi-core-level steal the
    # single probe cannot see).  The run is not refused — the driver
    # must always get a record — but every suspect is listed, the
    # multi-core probes are recorded, and host_state plus the rolling-
    # best subtotals give the quiet-state numbers alongside the
    # measured ones.
    _quiet_probe = 0.12
    degraded = {
        k: {
            "sec": v,
            "best": round(_prior[k], 3),
            "probe": probes.get(k),
        }
        for k, v in timings.items()
        if _prior.get(k, 0) > 0.05
        and v > 1.5 * _prior[k]
        and probes.get(k, 9.9) < _quiet_probe
    }
    # quiet-host calibration (this container, 32 procs): wall 0.24,
    # median_worker 0.11, max_worker 0.15; thresholds sit >2x above
    _mt_ok = [p for p in mt_probes if p]
    _mt_contended = any(
        p["median_worker"] > 0.25 or p["max_worker"] > 0.5 for p in _mt_ok
    )
    host_state = (
        "contended"
        if _mt_contended or len(degraded) >= max(3, len(timings) // 10)
        else "quiet"
    )
    full = {
        "metric": "suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "r1_catalog_sec": round(
            sum(v for k, v in timings.items() if k in r1_set), 3
        ),
        "spread": spreads,
        "recall": recall,
        "layout": layout,
        "join_size": join_size,
        "bpe_linear": bpe_linear,
        "maintenance": maintenance,
        "best_queries": best_queries,
        "r1_catalog_best_sec": round(
            sum(v for k, v in best_queries.items() if k in r1_set), 3
        ),
        "errors": errors,
        "cpu_probe": probes,
        "mt_probe": _mt_ok,
        "degraded": degraded,
        "host_state": host_state,
        "sf": sf_val,
    }
    # TRUNCATION-PROOFING (round-4 lesson): the driver records only the
    # TAIL of stdout, and BENCH_r04 lost every headline number because
    # the one huge JSON line ended with the cpu_probe dict.  Three
    # layers: (1) the full record is written to BENCH_LOCAL.json in the
    # repo so nothing is ever lost; (2) the full line is printed first;
    # (3) the LAST line printed is a compact headline whose scalar
    # verdict numbers sit at the END of the line, so any tail window
    # captures them.
    # a BENCH_ONLY subset run must never clobber the committed rolling
    # bests with a partial record
    if not _only:
        try:
            local_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            )
            with open(local_path, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
        except OSError:
            pass
    print(json.dumps(full))
    headline = {
        "queries": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:12]
        ),
        "errors": {k: v[:120] for k, v in errors.items()},
        "metric": "suite_sec",
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "recall": recall,
        "layout": layout,
        "n_degraded": len(degraded),
        "host_state": host_state,
        "r1_catalog_best_sec": full["r1_catalog_best_sec"],
        "r1_catalog_sec": full["r1_catalog_sec"],
        "value": full["value"],
    }
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
