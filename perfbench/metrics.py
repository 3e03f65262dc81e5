"""The benchmark's arithmetic: latency statistics, the machine's steal and
window shares, and the per-layer roll-up of a traced window. Pure functions
of what the JVM program reported, so `perfbench/tests` can check them."""
import statistics

# /proc/stat "cpu" fields that make up the machine's time: user nice system
# idle iowait irq softirq steal. guest and guest_nice are already inside
# user and nice, so they are not added again.
STAT_FIELDS = 8
STEAL = 7


def read_proc_stat(path="/proc/stat"):
    """The aggregate `cpu` line's counters (clock ticks), or None where the
    file does not exist."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("cpu "):
                    return [int(x) for x in line.split()[1:]]
    except OSError:
        pass
    return None


def steal_frac(before, after):
    """Share of all vCPU time between two `/proc/stat` readings that the
    hypervisor took (steal ÷ every state). 0 when either reading is missing
    or no time passed."""
    if not before or not after:
        return 0.0
    d = [b - a for a, b in zip(before[:STAT_FIELDS], after[:STAT_FIELDS])]
    total = sum(d)
    return d[STEAL] / total if total > 0 else 0.0


def window_frac(window_s, run_s):
    """Share of the run's wall time that the measured window took."""
    return window_s / run_s if run_s > 0 else 0.0


def tail_latency(lat):
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it: the 11th-largest sample, at 100·(n−10)/n. Below 21
    samples that would lie under the median, so the maximum is reported as
    p100."""
    s = sorted(lat)
    n = len(s)
    if n >= 21:
        return s[n - 11], round(100.0 * (n - 10) / n, 1)
    return s[-1], 100.0


def median_of_slots(values, slots):
    """Median over slots of each slot's median. A registry query's slot is
    its name, so the median is one query's and does not jump between the
    cheap and the dear queries when one call runs slow; a client call is its
    own slot, which makes this the plain median."""
    by_slot = {}
    for v, s in zip(values, slots):
        by_slot.setdefault(s, []).append(v)
    return statistics.median(statistics.median(v) for v in by_slot.values()), len(by_slot)


def round_medians(ops, round_of):
    """Median read/query latency (s) of each round, in round order: how far
    the JIT had got, round by round."""
    by_round = {}
    for o in ops:
        if o["kind"] != "ingest":
            by_round.setdefault(round_of[o["id"]], []).append((o["end_ms"] - o["start_ms"]) / 1e3)
    return [statistics.median(v) for _, v in sorted(by_round.items())]


def end_to_end(result, ops_ok, slot):
    """The end-to-end metrics of an untraced window. Throughput and CPU
    count client-visible call time only: the harness's between-call hygiene
    and checks are outside it. Ingests count in throughput and CPU, not in
    latency. A failed call counts as an infinite latency."""
    ops = result["window"]["ops"]
    busy_s = sum(o["end_ms"] - o["start_ms"] for o in ops) / 1e3
    lat_ops = [o for o in ops if o["kind"] != "ingest"]
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 if ops_ok[o["id"]] else float("inf")
           for o in lat_ops]
    tail, pct = tail_latency(lat)
    p50, slots = median_of_slots(lat, [slot[o["id"]] for o in lat_ops])
    m = {
        "setup_s": result["setup_s"],
        "ops_per_s": sum(ops_ok[o["id"]] for o in ops) / busy_s,
        "latency_p50_s": p50,
        "latency_tail_s": tail,
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / len(ops),
        "heap_live_mb": result["heap_live_mb"],
    }
    return m, dict(tail_pct=pct, n=len(lat), busy_s=busy_s, slots=slots)


def per_layer(result, op_meta, cores):
    """Per-operation means of the traced twins' layer figures (reads and
    queries; ingests feed the `sources.cells` figures)."""
    layers = result["layers"]
    reads = [l for l in layers if l["kind"] != "ingest"]
    ingests = [l for l in layers if l["kind"] == "ingest"]

    def mean(rows, k):
        return sum(r[k] for r in rows) / len(rows) if rows else 0.0

    def total(rows, k):
        return sum(r[k] for r in rows)

    wall = total(reads, "wall_s")
    exec_s = total(reads, "exec.s")
    rows_read = total(reads, "exec.rows_read")
    ranged = [(op_meta[l["id"]]["in_range"], l) for l in reads
              if op_meta[l["id"]].get("in_range") is not None]
    read_rows = sum(l["sources.rows_read"] for _, l in ranged)
    ingest_cells = sum(op_meta[l["id"]].get("cells", 0) for l in ingests)
    ingest_bytes = sum(op_meta[l["id"]].get("bytes", 0) for l in ingests)
    pairs = {o["id"]: o for o in result["window"]["ops"]}
    untraced_s = sum(pairs[l["id"]]["end_ms"] - pairs[l["id"]]["start_ms"] for l in layers)
    m = {k: mean(reads, k) for k in [
        "operators.build_s", "operators.build_jobs", "operators.build_task_cpu_s",
        "operators.build_driver_s", "operators.cached_mb", "operators.leaked_mb",
        "plan.s", "plan.nodes", "plan.exchanges", "exec.s", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.driver_s", "exec.sched_wait_s", "exec.task_cpu_s", "exec.gc_s",
        "exec.shuffle_write_mb", "exec.spill_mb", "sources.rows_read", "client.collect_s"]}
    m.update({
        "operators.build_frac": total(reads, "operators.build_s") / wall if wall else 0.0,
        "exec.core_util": total(reads, "exec.task_cpu_s") / (exec_s * cores) if exec_s else 0.0,
        "exec.failed_tasks": total(layers, "exec.failed_tasks"),
        "functions.cpu_ns_per_row": total(reads, "exec.task_cpu_ns") / rows_read
        if rows_read else 0.0,
        "sources.mb_read": mean(reads, "sources.bytes_read") / 1048576.0,
        "sources.useful_frac": sum(r for r, _ in ranged) / read_rows if read_rows else 0.0,
        "sources.cells.write_s": mean(ingests, "wall_s"),
        "sources.cells.bytes_per_cell": ingest_bytes / ingest_cells if ingest_cells else 0.0,
        "sources.cells.write_shuffle_mb": mean(ingests, "exec.shuffle_write_mb"),
        "sources.cells.ingest_cells_per_s": ingest_cells / total(ingests, "wall_s")
        if ingests else 0.0,
        "op.wall_s": mean(reads, "wall_s"),
        "trace.accounted_frac": total(reads, "trace.accounted_s") / wall if wall else 0.0,
        "trace.unattributed_s": (wall - total(reads, "trace.accounted_s")) / len(reads)
        if reads else 0.0,
        "trace.overhead_frac": total(layers, "wall_s") * 1e3 / untraced_s - 1.0,
    })
    return m
