"""cdc_tail: many small pgoutput-JSON micro-batches into seeded state.

A closed loop with one client: the harness writes the next round of
change files only after the stream has committed every file of the
previous round (``availableNow`` with one file per trigger), so each
trigger applies exactly one generated batch.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime
from decimal import Decimal

from perfbench import gen
from perfbench.common import manifest, manifest_bytes, median, peak_rss_mb, tail, tree_bytes
from perfbench.trace import fold_event_log, op_layers, self_times

SIZES = {
    "state_rows": 50_000,
    "n_buckets": 64,
    "batch_changes": 32,
    "files_per_round": 1,
    "warmup_batches": 2,
    "setup_reps": 3,
    "zipf_a": 1.5,
}
STREAM_FIELDS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}
# spans recorded in traced rounds; _install_spans wraps the calls
SPANS = (
    "streaming.pipeline.apply_batch",
    "cdc.envelope.parse",
    "cdc.registry.materialize",
    "cdc.merge.apply_changes_build",
    "streaming.ivm_sink.apply",
    "streaming.state.apply",
    "streaming.state.version_diff",
)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Rep:
    """One full set-up: generated inputs, pipeline, seeded state."""

    def __init__(self, ctx, i: int):
        from pyspark.sql import functions as F

        from cdc_spark.catalog import load_table
        from cdc_spark.cdc.registry import SchemaRegistry
        from cdc_spark.streaming.pipeline import CdcStreamPipeline

        spark = ctx.spark
        self.base = ctx.dir(f"rep{i}")
        t0 = time.perf_counter()
        self.log = gen.OrdersLog(ctx.seed, SIZES["state_rows"], zipf_a=SIZES["zipf_a"])
        self.snapshot = self.log.snapshot()
        data = ctx.dir(f"rep{i}", "data")
        gen.write_snapshot(os.path.join(data, "orders_seed.parquet"), self.snapshot)
        t1 = time.perf_counter()
        self.registry = SchemaRegistry()
        self.registry.announce(
            "public", "orders", [(gen.ORDERS_KEY, "bigint", True), *gen.ORDERS_PAYLOAD]
        )
        self.pipe = CdcStreamPipeline(
            spark, self.registry, "public", "orders",
            keys=[gen.ORDERS_KEY], payload=gen.PAYLOAD,
            state_path=ctx.dir(f"rep{i}", "state"),
            dialect="pgoutput_json",
            n_buckets=SIZES["n_buckets"],
            cdf_path=ctx.dir(f"rep{i}", "cdf"),
        )
        self.agg = self.pipe.attach_aggregate(
            ctx.dir(f"rep{i}", "agg"), ["o_orderpriority"],
            {"price_sum": F.col("o_totalprice")},
        )
        seed_df = load_table(spark, data, "orders_seed")
        t2 = time.perf_counter()
        # bulk load: the seed rows are already final images
        self.pipe.state.overwrite_buckets(
            seed_df.select(gen.ORDERS_KEY, *gen.PAYLOAD), range(SIZES["n_buckets"])
        )
        t3 = time.perf_counter()
        self.times = {
            "gen": t1 - t0,
            "catalog.load_s": t2 - t1,
            "streaming.state.seed_s": t3 - t2,
            "total": t3 - t0,
        }
        self.src = ctx.dir(f"rep{i}", "src")
        self.ckpt = os.path.join(self.base, "ckpt")
        self.batches: list[list[dict]] = []
        self.mtime0 = time.time() - 86_400.0

    def run_round(self, n_files: int) -> list:
        """Write ``n_files`` batches, run the stream until it has
        committed all of them; returns their progress records."""
        first = len(self.batches)
        for _ in range(n_files):
            idx = len(self.batches)
            changes = self.log.batch(SIZES["batch_changes"])
            self.batches.append(changes)
            gen.write_change_file(
                os.path.join(self.src, f"b{idx:06d}.json"), changes, self.mtime0 + idx
            )
        q = self.pipe.start(self.src, self.ckpt, max_files_per_trigger=1)
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        if len(prog) != len(self.batches) - first:
            raise RuntimeError(
                f"stream committed {len(prog)} of {n_files} batches"
            )
        return prog

    def dirs(self) -> list[str]:
        return [os.path.join(self.base, d) for d in ("state", "agg", "cdf")]


def _version_files(state_dir: str, v: int) -> tuple[int, int, int]:
    """(files, bytes, rows) of the data files a version wrote."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for dirpath, _, names in os.walk(os.path.join(state_dir, f"v{v}")):
        for f in names:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            files += 1
            nbytes += os.path.getsize(p)
            rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows


# --- correctness --------------------------------------------------------


def check(rep: Rep) -> list[str]:
    """Final state, aggregate and published feed against an independent
    replay of the generated log. Returns the mismatches."""
    want = gen.replay(rep.snapshot, rep.batches)
    problems = []
    got = gen.rows_to_state(rep.pipe.state.read().toPandas())
    if got != want:
        problems.append(f"state: {len(got)} rows vs {len(want)} replayed")
    agg_want: dict = {}
    for p in want.values():
        n, s = agg_want.get(p[3], (0, Decimal(0)))
        agg_want[p[3]] = (n + 1, s + Decimal(str(p[2])))
    agg_want = {k: (n, round(float(s), 2)) for k, (n, s) in agg_want.items()}
    agg_got = {
        r["o_orderpriority"]: (int(r["n_rows"]), round(float(r["price_sum"]), 2))
        for r in rep.agg.read().collect()
    }
    if agg_got != agg_want:
        problems.append(f"aggregate: {agg_got} vs {agg_want}")
    feed = rep.pipe.spark.read.parquet(rep.pipe.cdf_path).toPandas()
    latest = feed.sort_values("version").drop_duplicates(gen.ORDERS_KEY, keep="last")
    rebuilt = gen.rows_to_state(latest[latest["op"] != "d"])
    if rebuilt != want:
        problems.append(f"feed replay: {len(rebuilt)} rows vs {len(want)}")
    return problems


# --- the workload -------------------------------------------------------


def _install_spans(ctx, rep: Rep) -> None:
    import cdc_spark.cdc.merge as merge_mod
    import cdc_spark.streaming.pipeline as pipeline_mod
    import cdc_spark.streaming.state as state_mod

    t = ctx.tracer
    t.wrap(rep.pipe, "apply_batch", "streaming.pipeline.apply_batch")
    t.wrap(pipeline_mod, "parse_pgoutput_json", "cdc.envelope.parse")
    t.wrap(rep.registry, "materialize", "cdc.registry.materialize")
    # apply_changes is looked up in both modules at call time
    t.wrap(merge_mod, "apply_changes", "cdc.merge.apply_changes_build")
    t.wrap(state_mod, "apply_changes", "cdc.merge.apply_changes_build")
    t.wrap(rep.agg, "apply", "streaming.ivm_sink.apply")
    t.wrap(rep.pipe.state, "apply", "streaming.state.apply")
    t.wrap(rep.pipe.state, "version_diff", "streaming.state.version_diff")


def run(ctx) -> dict:
    spark = ctx.spark
    reps = []
    for i in range(SIZES["setup_reps"]):
        if reps:  # keep only the newest set-up on disk
            shutil.rmtree(reps[-1].base, ignore_errors=True)
        reps.append(Rep(ctx, i))
    rep = reps[-1]
    t0 = time.perf_counter()
    rep.run_round(SIZES["warmup_batches"])
    warmup_s = time.perf_counter() - t0
    setup_s = (
        ctx.timings["session.start_s"]
        + median([r.times["total"] for r in reps])
        + warmup_s
    )
    print(f"set-up: reps {[{k: round(v, 2) for k, v in r.times.items()} for r in reps]}, warm-up {warmup_s:.2f} s")

    # timed region; a traced run alternates untraced and traced rounds,
    # so the tracing overhead is measured in one session and over the
    # same stretch of time
    v_before = manifest(rep.dirs()[0])["version"]
    bytes_before = sum(tree_bytes(d) for d in rep.dirs())
    n_before = len(rep.batches)
    progress, traced = [], []
    failed = 0
    t0 = time.perf_counter()
    # a traced run needs at least one untraced and one traced round
    while time.perf_counter() - t0 < ctx.seconds or (ctx.trace and len(progress) < 2):
        tracing = ctx.trace and len(progress) % 2 == 1
        if tracing:
            _install_spans(ctx, rep)
        try:
            prog = rep.run_round(SIZES["files_per_round"])
        except Exception as e:  # noqa: BLE001 - a failed round is counted, not fatal
            print(f"round failed: {type(e).__name__}: {e}")
            failed += SIZES["files_per_round"]
            break
        finally:
            if tracing:
                ctx.tracer.unwrap_all()
        progress += prog
        traced += [tracing] * len(prog)
    wall = time.perf_counter() - t0
    timed_batches = rep.batches[n_before:]
    changes = sum(len(b) for b in timed_batches)
    bytes_written = sum(tree_bytes(d) for d in rep.dirs()) - bytes_before
    state_dir = rep.dirs()[0]
    row_count = rep.pipe.state.row_count()
    walls = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    tail_v, tail_p = tail(walls)

    problems = check(rep)
    for p in problems:
        print(f"MISMATCH {p}")
    if problems:
        failed = len(timed_batches)
    print(
        f"cdc_tail: {len(walls)} timed batches, {changes} changes, "
        f"tail = p{tail_p:.0f} of {len(walls)} samples; batch walls {walls}"
    )
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(walls),
        "op_tail_s": tail_v,
        "ops_per_s": changes / wall,
        "write_bytes_per_change": bytes_written / max(changes, 1),
        "state_bytes_per_row": manifest_bytes(state_dir) / max(row_count, 1),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    layers = None
    if ctx.trace:
        layers = dict(
            reps=reps,
            progress=progress,
            traced=traced,
            v_before=v_before,
            state_dir=state_dir,
            batches=timed_batches,
            walls=walls,
        )
    return {
        "attempted": max(len(timed_batches), 1),
        "failed": failed,
        "correct": not problems and failed == 0,
        "metrics": metrics,
        "layer_inputs": layers,
    }


def layer_metrics(ctx, li: dict, log_dir: str) -> dict:
    """Per-layer numbers of the traced rounds, as medians per batch."""
    jobs, tasks = fold_event_log(log_dir)
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    progress = li["progress"]
    traced = [p for p, t in zip(progress, li["traced"]) if t]
    per: dict[str, list[float]] = {}

    def put(name, v):
        per.setdefault(name, []).append(v)

    for p in traced:
        start = _ts(p.timestamp)
        wall = p.durationMs["triggerExecution"] / 1000.0
        end = start + wall
        inside = [s for s in spans if s.start >= start - 1e-3 and s.end <= end + 1e-3]
        for name in SPANS:
            mine = [s for s in inside if s.name == name]
            put(f"{name}_s", sum(s.end - s.start for s in mine))
            if name in (
                "streaming.pipeline.apply_batch",
                "streaming.ivm_sink.apply",
                "streaming.state.apply",
            ):
                put(f"{name}.self_s", sum(selfs[s.sid] for s in mine))
        # Spark's own split of the trigger: addBatch is the foreachBatch
        # call the spans run in, the rest is stream bookkeeping
        outside = (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000.0
        put("trace.accounted_ratio", (sum(selfs[s.sid] for s in inside) + outside) / wall)
        for k, v in op_layers(jobs, tasks, start, wall).items():
            put(k, v)
    for p in progress:
        for metric, key in STREAM_FIELDS.items():
            put(metric, float(p.durationMs.get(key, 0)))

    # state-layer counts per committed version of the timed region
    n_b = SIZES["n_buckets"]
    v_now = manifest(li["state_dir"])["version"]
    for v, batch in zip(range(li["v_before"] + 1, v_now + 1), li["batches"]):
        touched = len(manifest(li["state_dir"], v).get("touched", []))
        files, nbytes, rows = _version_files(li["state_dir"], v)
        put("streaming.state.touched_buckets", touched)
        put("streaming.state.touch_ratio", touched / n_b)
        put("streaming.state.files_written", files)
        put("streaming.state.bytes_written", nbytes)
        put("streaming.state.useful_rewrite_ratio",
            len({c["key"] for c in batch}) / max(rows, 1))

    out = {k: median(v) for k, v in per.items()}
    walls = li["walls"]
    q = max(1, len(walls) // 4)
    out["streaming.pipeline.batch_drift_ratio"] = median(walls[-q:]) / median(walls[:q])
    untraced = [w for w, t in zip(walls, li["traced"]) if not t]
    traced_w = [w for w, t in zip(walls, li["traced"]) if t]
    out["trace.untraced_op_p50_s"] = median(untraced)
    out["trace.traced_op_p50_s"] = median(traced_w)
    out["trace.overhead_s"] = median(traced_w) - median(untraced)
    out["session.start_s"] = ctx.timings["session.start_s"]
    out["catalog.load_s"] = median([r.times["catalog.load_s"] for r in li["reps"]])
    out["streaming.state.seed_s"] = median([r.times["streaming.state.seed_s"] for r in li["reps"]])
    return out
