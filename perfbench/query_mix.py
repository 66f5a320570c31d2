"""query_mix: reads of a versioned state table.

One closed-loop client runs passes over a fixed list of five reads of
a ``BucketedStateTable`` whose version history was built during
set-up, with merge applies and ``insert_only`` appends of pure-insert
batches. Each read is built, then forced with a noop write. A pass is
the workload's operation: its latency and rate are the end-to-end
numbers, the single reads are layer numbers.

The registry queries of the read side are not part of the mix: they
run on the star-schema test tables, which are not part of the
repository, and the benchmark reads only its own checkout.
"""

from __future__ import annotations

import os
import shutil
import time
from decimal import Decimal
from typing import NamedTuple

from perfbench import gen
from perfbench.common import manifest_bytes, median, peak_rss_mb, tail, tree_bytes
from perfbench.trace import JobGroups, fold_event_log, op_layers

MEDIAN_LAYERS = ("spark.jobs_per_batch", "spark.stages_per_batch", "driver.residual_s")
READS = ("read_as_of_lsn", "read_buckets", "version_diff", "row_count", "read_scan")
SIZES = {
    "history_keys": 20_000,
    "history_buckets": 16,
    # (kind, changes) per apply after the seed version
    "history": [("merge", 5000), ("insert_only", 1000), ("insert_only", 1000)],
    "read_buckets": [0, 5, 10],
    "setup_reps": 3,
    "warmup_passes": 4,
}


class Rep:
    """One set-up: the generated state history, built into a table."""

    def __init__(self, ctx, i: int):
        from cdc_spark.catalog import load_table
        from cdc_spark.streaming.state import BucketedStateTable

        spark = ctx.spark
        self.base = ctx.dir(f"rep{i}")
        t0 = time.perf_counter()
        data = ctx.dir(f"rep{i}", "data")
        log = gen.OrdersLog(ctx.seed, SIZES["history_keys"])
        self.snapshot = log.snapshot()
        gen.write_snapshot(os.path.join(data, "orders_seed.parquet"), self.snapshot)
        self.batches = []
        for j, (kind, n) in enumerate(SIZES["history"]):
            ch = log.batch(n) if kind == "merge" else log.inserts(n)
            self.batches.append(ch)
            gen.write_typed(os.path.join(data, f"hist{j:02d}.parquet"), ch)
        t1 = time.perf_counter()
        seed_df = load_table(spark, data, "orders_seed")
        t2 = time.perf_counter()
        self.state_dir = ctx.dir(f"rep{i}", "state")
        self.state = BucketedStateTable(
            spark, self.state_dir, [gen.ORDERS_KEY], n_buckets=SIZES["history_buckets"]
        )
        # bulk load of the seed, as cdc_tail does
        self.state.overwrite_buckets(
            seed_df.select(gen.ORDERS_KEY, *gen.PAYLOAD), range(SIZES["history_buckets"])
        )
        t3 = time.perf_counter()
        # version -> applied lsn; the seed is version 1 at lsn 0
        self.version_lsn = {1: 0}
        for j, (kind, _) in enumerate(SIZES["history"]):
            df = spark.read.parquet(os.path.join(data, f"hist{j:02d}.parquet"))
            v = self.state.apply(df, gen.PAYLOAD, insert_only=(kind == "insert_only"))
            self.version_lsn[v] = max(c["lsn"] for c in self.batches[j])
        t4 = time.perf_counter()
        self.changes = len(self.snapshot) + sum(len(b) for b in self.batches)
        self.times = {
            "gen": t1 - t0,
            "catalog.load_s": t2 - t1,
            "streaming.state.seed_s": t3 - t2,
            "history": t4 - t3,
            "total": t4 - t0,
        }
        # read targets: as of the first merge batch, and the diff from
        # there to the newest version
        self.v_mid = 2
        self.lsn_mid = self.version_lsn[self.v_mid]
        self.v_cur = self.state.current_version()

    def operations(self):
        """(name, build) pairs of one pass; ``build`` returns a
        DataFrame to force with a noop write, or a plain value."""
        from pyspark.sql import functions as F

        st = self.state
        return [
            ("read_as_of_lsn", lambda: st.read_as_of_lsn(self.lsn_mid)),
            ("read_buckets", lambda: st.read_buckets(SIZES["read_buckets"])),
            ("version_diff", lambda: st.version_diff(self.v_mid, self.v_cur)),
            ("row_count", lambda: st.row_count()),
            (
                "read_scan",
                lambda: st.read()
                .groupBy("o_orderstatus")
                .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s")),
            ),
        ]


class Sample(NamedTuple):
    """One timed operation: its build plus the write that forces it."""

    name: str
    start: float  # epoch seconds, to match event-log timestamps
    wall: float
    jobs: int  # counted through its job group; 0 when untraced
    traced: bool


def _force(out) -> None:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()


# --- correctness --------------------------------------------------------


def collect_results(rep: Rep) -> dict:
    """One pass that collects every read's result (the first warm-up pass)."""
    from pyspark.sql import DataFrame

    got = {}
    for name, build in rep.operations():
        out = build()
        if name == "read_buckets":
            other = [b for b in range(SIZES["history_buckets"]) if b not in SIZES["read_buckets"]]
            got[name] = (out.toPandas(), rep.state.read_buckets(other).count())
        elif isinstance(out, DataFrame):
            got[name] = out.toPandas()
        else:
            got[name] = out
    return got


def check(rep: Rep, got: dict) -> dict[str, str]:
    """Each read against an independent replay of the generated history."""
    bad = {}
    n_mid = sum(1 for v in rep.version_lsn if 1 < v <= rep.v_mid)
    mid = gen.replay(rep.snapshot, rep.batches[:n_mid])
    final = gen.replay(rep.snapshot, rep.batches)
    if gen.rows_to_state(got["read_as_of_lsn"]) != mid:
        bad["read_as_of_lsn"] = "differs from the replay at the mid LSN"
    part, n_other = got["read_buckets"]
    rows = gen.rows_to_state(part)
    if any(final.get(k) != v for k, v in rows.items()) or len(rows) + n_other != len(final):
        bad["read_buckets"] = "bucket read is not a partition of the replay"
    want_diff = {}
    for k in mid.keys() | final.keys():
        if k not in mid:
            want_diff[k] = ("c", final[k])
        elif k not in final:
            want_diff[k] = ("d", None)
        elif mid[k] != final[k]:
            want_diff[k] = ("u", final[k])
    diff = got["version_diff"]
    live = diff["op"] != "d"
    got_diff = {k: ("d", None) for k in diff.loc[~live, gen.ORDERS_KEY].astype(int)}
    ops = dict(zip(diff.loc[live, gen.ORDERS_KEY].astype(int), diff.loc[live, "op"]))
    got_diff.update({k: (ops[k], v) for k, v in gen.rows_to_state(diff[live]).items()})
    if got_diff != want_diff:
        bad["version_diff"] = f"{len(got_diff)} feed rows vs {len(want_diff)} replayed"
    if got["row_count"] != len(final):
        bad["row_count"] = f"{got['row_count']} vs {len(final)}"
    agg: dict = {}
    for p in final.values():
        n, s = agg.get(p[1], (0, Decimal(0)))
        agg[p[1]] = (n + 1, s + Decimal(str(p[2])))
    want_agg = {k: (n, round(float(s), 2)) for k, (n, s) in agg.items()}
    got_agg = {
        r["o_orderstatus"]: (int(r["n"]), round(float(r["s"]), 2))
        for _, r in got["read_scan"].iterrows()
    }
    if got_agg != want_agg:
        bad["read_scan"] = f"{got_agg} vs {want_agg}"
    return bad


# --- the workload -------------------------------------------------------


def run(ctx) -> dict:
    spark = ctx.spark
    reps = []
    for i in range(SIZES["setup_reps"]):
        if reps:
            shutil.rmtree(reps[-1].base, ignore_errors=True)
        reps.append(Rep(ctx, i))
    rep = reps[-1]
    ops = rep.operations()
    t0 = time.perf_counter()
    got = collect_results(rep)
    # the reads keep speeding up over the first passes (JIT), so the
    # warm-up runs a few more before the timed region
    for _ in range(SIZES["warmup_passes"] - 1):
        for _, build in ops:
            _force(build())
    warmup_s = time.perf_counter() - t0
    setup_s = ctx.timings["session.start_s"] + median([r.times["total"] for r in reps]) + warmup_s
    print(f"set-up: reps {[{k: round(v, 2) for k, v in r.times.items()} for r in reps]}, warm-up {warmup_s:.2f} s")

    jg = JobGroups(spark) if ctx.trace else None
    samples: list[Sample] = []  # one per read, for the layer metrics
    passes: list[tuple[float, bool]] = []  # (wall, traced) of each whole pass
    failed_reads = 0
    t0 = time.perf_counter()
    n_pass = 0
    # a traced run alternates untraced and traced passes, at least one each
    while time.perf_counter() - t0 < ctx.seconds or (ctx.trace and n_pass < 2):
        traced = ctx.trace and n_pass % 2 == 1
        p0 = time.perf_counter()
        ok = True
        for name, build in ops:
            start = time.time()
            a = time.perf_counter()
            try:
                if traced:
                    with ctx.tracer.span(name):
                        _, n_jobs = jg.run(name, lambda: _force(build()))
                else:
                    _force(build())
                    n_jobs = 0
            except Exception as e:  # noqa: BLE001 - a failed read fails its pass
                print(f"{name} failed: {type(e).__name__}: {e}")
                ok = False
                failed_reads += 1
                continue
            samples.append(Sample(name, start, time.perf_counter() - a, n_jobs, traced))
        if ok:
            passes.append((time.perf_counter() - p0, traced))
        n_pass += 1
    wall = time.perf_counter() - t0

    bad = check(rep, got)
    for name, why in bad.items():
        print(f"MISMATCH {name}: {why}")
    # every pass repeats the reads the check found wrong
    failed = n_pass if bad else n_pass - len(passes)
    lat = [w for w, _ in passes]
    tail_v, tail_p = tail(lat)
    print(
        f"query_mix: {n_pass} passes of {len(ops)} reads, {failed_reads} reads failed, "
        f"tail = p{tail_p:.0f} of {len(lat)} samples"
    )
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(passes) / wall,
        "write_bytes_per_change": tree_bytes(rep.state_dir) / rep.changes,
        "state_bytes_per_row": manifest_bytes(rep.state_dir) / max(rep.state.row_count(), 1),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    return {
        "attempted": max(n_pass, 1),
        "failed": failed,
        "correct": not bad and failed == 0,
        "metrics": metrics,
        "layer_inputs": {"samples": samples, "passes": passes, "reps": reps},
    }


def layer_metrics(ctx, li: dict, log_dir: str) -> dict:
    """Per-layer numbers of the traced passes: per read its latency,
    job count (from its job group), stages, time outside jobs and task
    metrics (from the event log)."""
    jobs, tasks = fold_event_log(log_dir)
    samples = li["samples"]
    traced = [s for s in samples if s.traced]
    out: dict[str, float] = {}
    for r in READS:
        out[f"streaming.state.{r}_s"] = median([s.wall for s in traced if s.name == r])
    per: dict[str, list[float]] = {}
    for s in traced:
        for k, v in op_layers(jobs, tasks, s.start, s.wall).items():
            per.setdefault(k, []).append(v)
    per["spark.jobs_per_batch"] = [s.jobs for s in traced]
    # job counts and the residual as medians per operation; task time
    # and bytes as means, so every operation of the mix counts
    for k, v in per.items():
        out[k] = median(v) if k in MEDIAN_LAYERS else sum(v) / len(v)
    out["trace.untraced_op_p50_s"] = median([w for w, t in li["passes"] if not t])
    out["trace.traced_op_p50_s"] = median([w for w, t in li["passes"] if t])
    out["trace.overhead_s"] = out["trace.traced_op_p50_s"] - out["trace.untraced_op_p50_s"]
    out["session.start_s"] = ctx.timings["session.start_s"]
    for k in ("catalog.load_s", "streaming.state.seed_s"):
        out[k] = median([r.times[k] for r in li["reps"]])
    return out
