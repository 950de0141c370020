"""The benchmark's workloads: which ops run, how one op runs, and how
its output is checked.

Every workload is a closed loop with one client: the next op starts
when the previous one has returned. A *pass* is one run of every
distinct op of the workload, in an order drawn from the seed. After the
warm-up (``warm`` and then ``warm_passes`` untimed passes) the measured
window is a fixed number of whole passes per workload (``passes``), so
every distinct op is sampled equally often, the op mix does not depend
on the seed, and a faster engine times the same ops as a slower one.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import fixture
import spans

#: The 21 queries of ``bench.py``'s frozen HEADLINE set.
_HEADLINE = (
    "a1_group_sum_flagship",
    "a2_group_sum_composite",
    "a8_mode_per_group",
    "j1_budget_vs_actual",
    "j2_mode_backfill",
    "j3_merge_upsert",
    "w1_dedup_latest",
    "w2_forward_fill",
    "ext_running_sum",
    "ext_sessionize",
    "o1_top_abs",
    "f12_categorize",
    "d2_replace_by_key",
    "ext_tumbling_window",
    "ext_cube",
    "ext_asof_join",
    "ext_time_bucket_rollup",
    "ext_grouping_sets",
    "ext_having_join_q18",
    "ext_rank_family",
    "ext_exists_subquery",
)

REGISTRY_OPS = {
    "report_refresh": _HEADLINE
    + (
        "r1_monthly_by_category",
        "r2_by_category_parcelado",
        "r3_recorrentes",
        "r4_top_gastos",
        "r5_top_parcelados",
        "r6_compare_budget",
        "r7_forms_normalize",
        "r8_payments_report",
        "ext_sql_entry_q3",
        "ext_sql_entry_q5",
        "ext_market_share_q8",
        "ext_profit_by_nation_q9",
        "ext_waiting_supplier_q21",
    ),
    "graph_fixpoint": (
        "x16_dedup_clusters",
        "x38_triangle_count",
        "x42_pagerank",
        "x56_bfs_hops",
        "x58_temporal_reach",
        "x67_weighted_sssp",
        "x73_random_walks",
        "x80_suffix_ranks",
        "x83_cc_largestar",
    ),
    "document_parse": (
        "p1_bb_statement_roundtrip",
        "p2_bb_bill_roundtrip",
        "p3_bradesco_roundtrip",
        "p7_binary_pdf_scan",
        "p8_real_pdf_roundtrip",
        "p9_cid_pdf_roundtrip",
        "p10_encrypted_pdf_roundtrip",
        "p11_bank_pipeline_e2e",
        "x22_media_metadata",
        "x45_image_phash_dedup",
        "x49_audio_segments",
        "x52_png_roundtrip",
        "x55_video_frame_sample",
        "x75_audio_fingerprint_dedup",
        "x78_rle_video_roundtrip",
        "x79_adpcm_audio_roundtrip",
    ),
}
WORKLOADS = (*REGISTRY_OPS, "lake_upsert")
#: (untimed passes after the oracle-gated warm pass, measured passes) of
#: each registry workload. The first pass after the warm pass still runs
#: slower than later ones (``report_refresh`` by about a quarter,
#: ``document_parse`` by about a tenth), so it is left untimed.
#: ``graph_fixpoint``'s is not; four passes give it 36 samples.
#: Of these only ``document_parse`` is in BENCHMARK.json (see README.md).
REGISTRY_PASSES = {
    "report_refresh": (1, 1),
    "graph_fixpoint": (0, 4),
    "document_parse": (1, 4),
}

#: lake_upsert maintenance policy: every MAINT_EVERY-th op also compacts
#: the table and expires all but the newest version. With a third of the
#: ops maintenance ops, the median falls among the plain merges and the
#: tail among the maintenance ops, each well away from the gap between them.
MAINT_EVERY = 3
RETAIN_LAST = 1
#: Rows per change batch: new event ids, and later-``ts`` updates of
#: committed ids.
BATCH_NEW = 200
BATCH_UPDATES = 300

_DAY_US = 86_400 * 1_000_000


def oracle_problems(spdf, dpdf) -> list[str]:
    """The registry's oracle gate: row count, column names, dtype kinds
    and the order-insensitive row-hash multiset must all agree."""
    from tools.oracle_check import dtype_parity_problems, row_hashes

    if len(spdf) != len(dpdf):
        return [f"rowcount spark={len(spdf)} duckdb={len(dpdf)}"]
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return [f"columns spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}"]
    problems = dtype_parity_problems(spdf, dpdf)
    if not problems:
        try:
            if row_hashes(spdf) != row_hashes(dpdf):
                problems.append("row-hash mismatch")
        except TypeError as exc:
            problems.append(f"unhashable rows: {exc}")
    return problems


class RegistryWorkload:
    """Ops are ``queries()[name](spark, sf_dir)`` followed by a ``noop``
    write; outputs are checked once per distinct op against the
    op's DuckDB ``oracle_sql()`` twin, in the untimed warm pass."""

    def __init__(self, ctx, workload: str):
        from __spark_entry__ import oracle_sql, queries

        self.ctx = ctx
        self.names = REGISTRY_OPS[workload]
        self.warm_passes, self.passes = REGISTRY_PASSES[workload]
        registry = queries()
        self.fns = {n: registry[n] for n in self.names}
        self.oracles = oracle_sql()

    def pass_ops(self, rng) -> list[str]:
        return list(rng.permutation(self.names))

    def oracle_answers(self, names) -> dict[str, object]:
        """Each op's DuckDB ``oracle_sql()`` answer, or the error it raised.

        The fixture is the same on every run, so answers are kept in the
        run's cache directory, keyed by the fixture's bytes, the DuckDB
        version and the SQL, and DuckDB runs only on a miss. Errors are
        not kept."""
        ctx = self.ctx
        h = hashlib.sha256(duckdb.__version__.encode())
        for t in fixture.TABLES:
            with open(os.path.join(ctx.sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        os.makedirs(ctx.cache_dir, exist_ok=True)
        out: dict[str, object] = {}
        con = None
        try:
            for name in names:
                sql = self.oracles[name]
                key = hashlib.sha256(h.digest() + sql.encode()).hexdigest()
                path = os.path.join(ctx.cache_dir, f"oracle-{key}.pkl")
                if os.path.exists(path):
                    out[name] = pd.read_pickle(path)
                    continue
                if con is None:
                    con = duckdb.connect()
                    for t in fixture.TABLES:
                        p = os.path.join(ctx.sf_dir, f"{t}.parquet")
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
                try:
                    out[name] = con.execute(sql).fetchdf()
                except duckdb.Error as exc:
                    out[name] = exc
                    continue
                out[name].to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
        finally:
            if con is not None:
                con.close()
        return out

    def warm(self, rng) -> None:
        """Build and collect each distinct op once and gate it on its
        oracle. Fills the engine's memo caches and boots Python workers.

        The oracle answers are all fetched first, with nothing else
        running, and the whole time spent on them and on comparing
        counts as oracle time."""
        ctx = self.ctx
        order = self.pass_ops(rng)
        t0 = time.perf_counter()
        want = self.oracle_answers(order)
        ctx.oracle_s += time.perf_counter() - t0
        for name in order:
            try:
                got = self.fns[name](ctx.spark, ctx.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                ctx.fail(name, f"{type(exc).__name__}: {exc}")
                got = None
            t0 = time.perf_counter()
            with ctx.tracer.span("oracle", op=name):
                dpdf = want.pop(name)
                if isinstance(dpdf, duckdb.Error):
                    ctx.check(name, [f"oracle error: {dpdf}"])
                elif got is not None:
                    ctx.check(name, oracle_problems(got, dpdf))
            ctx.oracle_s += time.perf_counter() - t0

    def run_op(self, name: str, timed: bool = True) -> None:
        ctx = self.ctx
        if not ctx.tracer.enabled:
            df = self.fns[name](ctx.spark, ctx.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return
        tr, sc = ctx.tracer, ctx.spark.sparkContext
        gid = f"perfbench-{len(tr.spans)}"
        with tr.span("op", op=name):
            with tr.span("build"), spans.job_group(sc, gid + "-build"):
                df = self.fns[name](ctx.spark, ctx.sf_dir)
            with tr.span("catalyst"):
                qe = df._jdf.queryExecution()
                plan = qe.executedPlan()
            with tr.span("exec"), spans.job_group(sc, gid + "-exec"):
                rows_out = qe.toRdd().count()
        if not timed:
            return
        with tr.accounting():
            jobs, _, _ = spans.job_counts(sc, gid + "-build")
            tr.count("queries.build_jobs", jobs)
            jobs, stages, tasks = spans.job_counts(sc, gid + "-exec")
            tr.count("exec.jobs", jobs)
            tr.count("exec.stages", stages)
            tr.count("exec.tasks", tasks)
            for k, v in spans.plan_metrics(plan).items():
                tr.count(k, v)
            tr.count("io.rows_out", rows_out)

    def finish(self) -> None:
        pass


def _files(root: str) -> dict[str, int]:
    """Size of every parquet data file under ``root``, by path."""
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }


def _new_files(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: n for p, n in after.items() if p not in before}


class LakeWorkload:
    """Ops upsert one seeded change batch into a versioned ``lake_tx``
    table and read it back; every MAINT_EVERY-th op also compacts and
    expires versions. The final table is checked against a DuckDB
    latest-wins recomputation over every batch applied."""

    #: Untimed passes (maintenance cycles) after the table is seeded,
    #: then measured ones: 60 ops, 20 of them maintenance ops. The first
    #: few cycles after the table is seeded still run slower than later ones.
    warm_passes = 4
    passes = 20

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.seed = seed
        self.root = os.path.join(ctx.tmp, "lake", "events")
        self.landing = os.path.join(ctx.tmp, "landing")
        os.makedirs(self.landing)
        #: the fixture's events, then every change batch applied so far
        self.applied = [os.path.join(ctx.sf_dir, "events.parquet")]
        self.n_batches = 0
        #: live event ids: those of the fixture, then also those of every
        #: batch applied so far (batch i adds ids from n_base + i * BATCH_NEW)
        self.n_base = pq.read_metadata(self.applied[0]).num_rows
        self.n_ids = self.n_base
        ts = pq.read_table(self.applied[0], columns=["ts"]).column(0)
        self.ts_end = int(ts.cast(pa.int64()).to_numpy().max()) + 1

    def pass_ops(self, rng) -> list[tuple[str, bool]]:
        """One maintenance cycle: its change batches, written here,
        before any of its ops is timed, and whether each op also runs
        maintenance (the last one does)."""
        return [(self._batch(), i == MAINT_EVERY - 1) for i in range(MAINT_EVERY)]

    def _batch(self) -> str:
        """Write the next change batch to the landing directory. Its
        timestamps all follow every earlier batch's, so each update is
        a later version of its key."""
        i = self.n_batches
        self.n_batches += 1
        rng = np.random.default_rng([self.seed, i])
        first_us = self.ts_end + i * _DAY_US
        n_ids = self.n_base + i * BATCH_NEW
        new = fixture.events(rng, BATCH_NEW, n_ids, first_us, _DAY_US)
        upd = fixture.events(rng, BATCH_UPDATES, 0, first_us, _DAY_US)
        ids = np.sort(rng.choice(n_ids, BATCH_UPDATES, replace=False))
        upd = upd.set_column(0, "event_id", pa.array(ids, pa.int64()))
        path = os.path.join(self.landing, f"batch-{i:05d}.parquet")
        pq.write_table(pa.concat_tables([upd, new]), path)
        return path

    def warm(self, rng) -> None:
        """Seed the table with the fixture's events."""
        from fintrack_etl_spark import lake_tx

        base = self.ctx.spark.read.parquet(self.applied[0])
        lake_tx.merge_latest_wins_versioned(self.ctx.spark, self.root, base, ["event_id"], "ts")

    def run_op(self, op: tuple[str, bool], timed: bool = True) -> None:
        from fintrack_etl_spark import lake_tx

        spark, tr = self.ctx.spark, self.ctx.tracer
        account = tr.enabled and timed
        path, maintain = op
        with tr.span("op", op="merge+maintain" if maintain else "merge"):
            if account:
                with tr.accounting():
                    before = _files(self.root)
            with tr.span("lake_tx.commit"):
                src = spark.read.parquet(path)
                lake_tx.merge_latest_wins_versioned(
                    spark, self.root, src, ["event_id"], "ts", batch_id=len(self.applied)
                )
            if account:
                with tr.accounting():
                    after = _files(self.root)
                    live = _new_files(before, after)
                    written = [live]
            with tr.span("lake_tx.read"):
                n_live = lake_tx.read_table(spark, self.root).count()
            if maintain:
                with tr.span("lake_tx.maint"):
                    lake_tx.compact_table(spark, self.root)
                if account:
                    with tr.accounting():
                        before, after = after, _files(self.root)
                        live = _new_files(before, after)
                        written.append(live)
                with tr.span("lake_tx.maint"):
                    lake_tx.expire_versions(self.root, retain_last=RETAIN_LAST)
        self.applied.append(path)
        self.n_ids += BATCH_NEW
        if n_live != self.n_ids:
            raise AssertionError(f"read-after-write: {n_live} live rows, expected {self.n_ids}")
        if account:
            with tr.accounting():
                stored = sum(_files(self.root).values())
                tr.count("lake_tx.input_bytes", os.path.getsize(path))
                tr.count("lake_tx.bytes_written", sum(sum(f.values()) for f in written))
                tr.count("lake_tx.files_written", sum(len(f) for f in written))
                self.ctx.lake_stored.append((stored, stored / sum(live.values())))

    def finish(self) -> None:
        """Gate the final table on a DuckDB latest-wins recomputation."""
        from fintrack_etl_spark import lake_tx

        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.tracer.span("oracle", op="lake_final"):
            got = lake_tx.read_table(ctx.spark, self.root).toPandas()
            files = ", ".join(f"'{p}'" for p in self.applied)
            want = duckdb.sql(
                f"SELECT * FROM read_parquet([{files}]) "
                "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1"
            ).fetchdf()
            ctx.check("lake_final", oracle_problems(got, want))
        ctx.oracle_s += time.perf_counter() - t0
