"""graft benchmark: one closed-loop client against Spark local[k].

    python3 perfbench/run.py --workload tsagg_client --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds the library and the benchmark's JVM
program (first run only), prepares the seeded inputs under `.bench_work/`,
runs the JVM program, checks every result and prints the metrics, with the
machine's steal share beside them; the last line of stdout is one JSON
object. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Spark runs local[min(CORES, nproc)]: the cores the benchmark gives the
# library. On the 4-vCPU VM the benchmark was built on, interleaved runs of
# local[2] and local[4] had local[4] faster and steadier (README.md "Cores").
CORES = 4
# workload -> (seconds a measured round takes, fewest rounds). The window is
# a fixed amount of work, max(fewest, round(--seconds / seconds per round))
# whole rounds: cutting it by the clock would change the sample count and
# the call mix with the machine's speed. Two client rounds hold 24 reads, so
# the tail percentile lies above the median; curation needs three passes so
# that each query's median has three samples. At the benchmark's 16 s that
# is two client rounds (24 reads and 2 ingests, 16-22 s) and three
# curation passes (27 queries, 20-26 s).
WORKLOADS = {"tsagg_client": (8.0, 2), "curation": (6.8, 3)}
# workload -> untimed rounds of a fixed op stream (seed PRIME_SEED) run
# after the set-up and before the window. Calls keep getting faster over
# the first rounds, as the JIT compiles Spark's planner, code generator and
# scheduler and the library's per-row functions: the median call of
# tsagg_client's first four rounds fell 0.79, 0.57, 0.51, 0.52 s, and of
# curation's first three passes 1.36, 0.60, 0.54 s. One round takes the
# steepest step out of the window; a second would take the next 10-15%,
# but costs 6-10 s a run, which a comparison's 48 runs an hour cannot spare
# (README.md "Run length"). Curation's per-query median of three passes
# sets the slower first pass aside.
PRIME_ROUNDS = {"tsagg_client": 1, "curation": 1}
PRIME_SEED = 2 ** 32
JVM_TIMEOUT_S = 165
END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("cpu_s_per_op", "s"), ("heap_live_mb", "MB")]
PER_LAYER = [
    ("operators.build_s", "s"), ("operators.build_frac", "frac"),
    ("operators.build_jobs", "count"), ("operators.build_task_cpu_s", "s"),
    ("operators.build_driver_s", "s"), ("operators.cached_mb", "MB"),
    ("operators.leaked_mb", "MB"),
    ("plan.s", "s"), ("plan.nodes", "count"), ("plan.exchanges", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.driver_s", "s"), ("exec.sched_wait_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.core_util", "frac"), ("exec.gc_s", "s"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.failed_tasks", "count"),
    ("functions.cpu_ns_per_row", "ns"),
    ("sources.rows_read", "count"), ("sources.mb_read", "MB"), ("sources.useful_frac", "frac"),
    ("sources.cells.write_s", "s"), ("sources.cells.bytes_per_cell", "B"),
    ("sources.cells.write_shuffle_mb", "MB"), ("sources.cells.ingest_cells_per_s", "1/s"),
    ("client.collect_s", "s"),
    ("machine.steal_frac", "frac"), ("run.window_frac", "frac"),
    ("op.wall_s", "s"), ("trace.accounted_frac", "frac"), ("trace.unattributed_s", "s"),
    ("trace.overhead_frac", "frac"),
    ("prep.s", "s"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- inputs -----------------------------------------------------------------------

def prepare_tsagg(work, seed):
    """Events table and ingest batch of variant `seed % TABLE_VARIANTS` at a
    stable per-(variant, size) path, so the library's fixtures built from it
    in prep are reused by later runs; directories of other sizes or layouts
    are removed so repeated runs do not accumulate inputs. Returns the
    directory, the events, the ingest batch's path and events, and the
    seconds spent generating (0 if the inputs already existed)."""
    variant = seed % gen.TABLE_VARIANTS
    layout = f"n{gen.CELLS}-s{gen.SERIES}-i{gen.INGEST_CELLS}"
    keep = {f"data-v{v}-{layout}" for v in range(gen.TABLE_VARIANTS)}
    for d in os.listdir(work):
        if d.startswith("data-") and d not in keep:
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    data = os.path.join(work, f"data-v{variant}-{layout}")
    t = time.time()
    ev = gen.events(variant, gen.CELLS, gen.SERIES)
    batch = os.path.join(data, "batch.parquet")
    gen_s = 0.0
    if not os.path.exists(os.path.join(data, "events.ok")):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        gen.write_events(os.path.join(data, "events.parquet"), ev)
        gen.write_cell_batch(batch, variant + 1, gen.INGEST_CELLS, gen.SERIES)
        open(os.path.join(data, "events.ok"), "w").close()
        gen_s = time.time() - t
    batch_ev = gen.events(variant + 1, gen.INGEST_CELLS, gen.SERIES)
    return data, ev, batch, batch_ev, gen_s


def prepare_corpus(work_root, variant, docs=gen.CORPUS_DOCS):
    """A generated corpus at a stable path; its generation time is recorded
    beside it as the prep time. Corpora of another size are removed."""
    name = f"corpus-v{variant}-d{docs}"
    for d in os.listdir(work_root):
        if d.startswith("corpus-") and not d.endswith(f"-d{docs}"):
            shutil.rmtree(os.path.join(work_root, d), ignore_errors=True)
    data = os.path.join(work_root, name)
    if not os.path.exists(os.path.join(data, "prep_s")):
        t = time.time()
        gen.write_corpus(os.path.join(data, "documents.parquet"), variant, docs)
        with open(os.path.join(data, "prep_s"), "w") as f:
            f.write(str(time.time() - t))
    return data


# ---- JVM process -------------------------------------------------------------------

def run_jvm(cp, work, args, deadline):
    """Runs one JVM process (`args["mode"]`) and returns its JSON result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = dict(args, out=os.path.join(work, f"{args['mode']}.json"))
    cmd = build.jvm_cmd(cp, tmp, [f"{k}={v}" for k, v in args.items()])
    logf = os.path.join(work, f"jvm-{args['mode']}.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM process timed out (log: {logf})")
    if rc != 0:
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"JVM process exited {rc} (log: {logf}):\n{tail}")
    with open(args["out"]) as f:
        return json.load(f)


# ---- main ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", type=int, default=0, metavar="K",
                    help="deliberately corrupt the expected answer of every K-th op "
                         "(checks that wrong answers reach the failed count)")
    ap.add_argument("--record-digests", action="store_true",
                    help="curation: print the observed digests instead of checking them")
    a = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S

    root = os.getcwd()
    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, a.workload)
    os.makedirs(work, exist_ok=True)
    scratch = ("spark-local", "tmp", "ingest", "warehouse")
    for d in scratch:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = max(deadline, time.time() + 150)  # a first build may take long
    # the run's wall time starts after the build, which a checkout pays once
    run_t0 = time.time()
    stat0 = metrics.read_proc_stat()

    op_meta = {}
    per_round, fewest = WORKLOADS[a.workload]
    rounds = max(fewest, round(a.seconds / per_round))
    cores = min(CORES, len(os.sched_getaffinity(0)))
    common = dict(workload=a.workload, work=work, cores=cores)
    if a.workload.startswith("tsagg"):
        data, ev, batch, batch_ev, gen_s = prepare_tsagg(work, a.seed)
        fresh_ev = gen.merge_events(ev, batch_ev)
        ops = gen.tsagg_rounds(a.seed, rounds)
        prime = gen.tsagg_rounds(PRIME_SEED, PRIME_ROUNDS[a.workload])
        for op in ops + prime:
            if op["kind"] == "ingest":
                op["batch"] = batch
        expected_ingest = f"{gen.INGEST_CELLS}:{int(batch_ev[3].sum())}"
    else:
        variant = a.seed % gen.CORPUS_VARIANTS
        data = prepare_corpus(work_root, variant)
        ops = gen.registry_rounds(gen.CURATION, a.seed, rounds)
        prime = gen.registry_rounds(gen.CURATION, PRIME_SEED, PRIME_ROUNDS[a.workload])
        with open(os.path.join(os.path.dirname(__file__), "expected_registry.json")) as f:
            expected_all = json.load(f)
    files = {}
    for name, stream in (("prime", prime), ("ops", ops)):
        files[name] = os.path.join(work, f"{name}.tsv")
        with open(files[name], "w") as f:
            f.write("\n".join(gen.op_line(op) for op in stream) + "\n")

    # prep time is that of the run which generated these inputs and built
    # their fixtures; later runs reuse both
    prep_file = os.path.join(data, "prep_s")
    try:
        if not os.path.exists(prep_file):
            prep = run_jvm(cp, work, dict(common, mode="prep", data=data), deadline)
            with open(prep_file, "w") as f:
                f.write(str(prep["prep_s"] + gen_s))
        result = run_jvm(cp, work, dict(common, mode="run", data=data, trace=a.trace, **files),
                         deadline)
    except RuntimeError as e:
        log(str(e))
        return 3
    finally:
        for d in scratch:
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    # ---- correctness: every op of every window against its expected answer
    by_id = {op["id"]: op for op in ops}
    ran = result["window"]["ops"] + result["window"]["traced_ops"]
    ok = {}  # per op id, the untraced call's verdict
    failed = 0
    recorded = {}
    for o in ran:
        op = by_id[o["id"]]
        meta = op_meta.setdefault(o["id"], {})
        if op["kind"] == "read":
            if "expected" not in meta:
                seen = fresh_ev if op["form"] == "cells" and op["fresh"] else ev
                meta["expected"], meta["in_range"] = gen.expected_read(seen, op)
        elif op["kind"] == "ingest":
            meta.update(o.get("extra", {}), expected=expected_ingest)
        else:
            meta["expected"] = expected_all.get(str(variant), {}).get(op["name"])
            recorded[op["name"]] = o.get("digest")
        expected = meta["expected"]
        if a.corrupt_expected and o["id"] % a.corrupt_expected == 0:
            expected = "corrupted:" + str(expected)
        good = "error" not in o and o.get("digest") == expected
        if not good and not a.record_digests:
            log(f"op {o['id']} ({op.get('name') or op.get('agg') or op['kind']}) failed: "
                f"{o.get('error') or 'got ' + str(o.get('digest')) + ' expected ' + str(expected)}")
        failed += not good
        ok.setdefault(o["id"], good)
    if a.record_digests:
        print(json.dumps({str(variant): recorded}, sort_keys=True))
        return 0

    attempted = len(ran)
    plain_ops = result["window"]["ops"]
    e2e, info = metrics.end_to_end(result, ok, {op["id"]: op.get("name", op["id"]) for op in ops})
    win = result["window"]
    steal = metrics.steal_frac(win["stat0"], win["stat1"])
    run_s = time.time() - run_t0
    win_s = (win["end_ms"] - win["start_ms"]) / 1e3
    share = metrics.window_frac(win_s, run_s)

    def per_round(timed, stream):
        rounds = {op["id"]: op["round"] for op in stream}
        return " ".join(f"{x:.3f}" for x in metrics.round_medians(timed, rounds))

    print(f"workload={a.workload} seed={a.seed} cores={cores} ops={len(plain_ops)} "
          f"rounds={win['rounds']} busy_s={info['busy_s']:.3f}")
    print(f"median call per round (s): prime {per_round(result['prime']['ops'], prime)} "
          f"| window {per_round(plain_ops, ops)}")
    for k, unit in END_TO_END:
        print(f"{k} = {e2e[k]:.6g} {unit}")
    p50 = (f"the median over {info['slots']} queries of each one's median"
           if info["slots"] < info["n"] else "the median of the operations")
    print(f"latency_p50_s is {p50}; "
          f"latency_tail_s is p{info['tail_pct']:g} of n={info['n']} operations")
    print(f"failed = {failed} of {attempted} attempted operations")
    print(f"machine.steal_frac = {steal:.6g} frac (hypervisor steal during the window; "
          f"{metrics.steal_frac(stat0, metrics.read_proc_stat()):.4g} over the whole run)")
    print(f"run.window_frac = {share:.6g} frac (window {win_s:.3f} s of a {run_s:.3f} s run)")
    ingests = [o for o in plain_ops if o["kind"] == "ingest" and ok[o["id"]]]
    if ingests:
        cells = sum(op_meta[o["id"]]["cells"] for o in ingests)
        secs = sum((o["end_ms"] - o["start_ms"]) / 1e3 for o in ingests)
        print(f"ingest_cells_per_s = {cells / secs:.6g} 1/s ({len(ingests)} ingests)")
    with open(prep_file) as f:
        prep_s = float(f.read())
    print(f"prep_s = {prep_s:.3f} s (inputs and fixtures made by the run that first used them)")

    if a.trace:
        layers = metrics.per_layer(result, op_meta, cores)
        layers.update({"prep.s": prep_s, "machine.steal_frac": steal, "run.window_frac": share})
        trace_file = os.path.join(work, f"trace-seed{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"layers": result["layers"], "spans": result["spans"],
                       "trace.overhead_frac": layers["trace.overhead_frac"]}, f)
        for k, unit in PER_LAYER:
            print(f"{k} = {layers[k]:.6g} {unit}")
        print(f"spans: {trace_file}")
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
