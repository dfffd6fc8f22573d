"""The repo benchmark: one command for every metric.

    python3 perfbench/run.py --workload relational_export_10x --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload curation_sf001 --seed 1 --trace 1
    python3 perfbench/run.py --workload curation_sf001 --steady 10

A run generates the workload's inputs from ``--seed`` (cached under
``.perfbench_work/`` in the checkout), computes each operator's DuckDB
oracle hash over them, then starts a fresh Spark driver process that only
sets up the engine (a second set-up sample) and one that sets up the
engine, runs one cold pass and warm passes for ``--seconds``. Each
operator's written Parquet is read back and hashed with
``parity.table_hash``; a mismatch or an exception counts as a failed
operation and is printed by name.

Every metric is printed by name with its unit; the last line of standard
output is the JSON result, whose end-to-end metrics are the set-up time
and the CPU time of the cold and the warm passes (the passes' wall times
are printed and recorded beside them). ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones. ``--steady N`` runs two
sets of N runs (seeds 1..N each) and reports each metric's median,
quartiles and spread per set against the bounds in ``BENCHMARK.json``.

Workers are pinned: ``local[min(nproc, 2)]``, driver memory sized to the
host, Spark local dirs, ``TMPDIR`` and the output sink inside the work
directory, the repo on the Python workers' ``PYTHONPATH``. Workloads never
run concurrently.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "snapshot_s3_util_spark"
SETUP_SAMPLES = 2  # worker processes whose set-up time is sampled per run
WORKER_TIMEOUT_S = 150

sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# Spark task slots. Both workloads keep executors well under half busy,
# so two slots run them as fast as four, and the host's other cores are
# left to the JVM's compiler and GC threads, the Spark driver and the Python
# workers instead of all of them queueing behind the task threads.
SPARK_CORES = 2


def host_cpus() -> int:
    return min(len(os.sched_getaffinity(0)), SPARK_CORES)


def driver_mem_gb() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(1, min(2, int(total // 6)))


def worker_env() -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_gb()}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata files in /tmp from either JVM spark-submit starts
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
    )
    return env


# ---------------------------------------------------------------- inputs


def inputs_for(seed: int, mult: int) -> tuple[str, dict]:
    """Generated input tier for (seed, mult), built once and cached."""
    import datagen

    root = os.path.join(WORK, "inputs")
    path = os.path.join(root, f"x{mult}-seed{seed}")
    meta = path + ".json"
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        sizes = datagen.build(path, seed, mult)
        with open(meta, "w") as fh:
            json.dump(sizes, fh)
    with open(meta) as fh:
        return path, json.load(fh)


def _duckdb(inputs: str):
    import duckdb
    import datagen

    con = duckdb.connect()
    con.execute(f"SET threads TO {host_cpus()}")
    for t in datagen.TABLES:
        path = os.path.join(inputs, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# Two engines that sum the same doubles in different orders agree to about
# n * 2**-53 of the sum (n terms), not in every digit they print: a 4-decimal
# ROUND of a sum near 2.8e9 asks for 3.6e-14 and its last digit can flip.
# A float cell that misses the exact hash still matches when it is within
# FLOAT_REL_TOL of its magnitude: that bound covers up to 10^6 summed terms
# and is over a thousand times smaller than one input row's share of such
# a sum, so a dropped, duplicated or wrong row still fails.
FLOAT_REL_TOL = 1e-10


def canon_cells(cols: list[str], rows: list[tuple]) -> list[list[str]]:
    """Each row's ``parity.canon`` cells, columns in name order (the order
    ``parity.table_hash`` hashes them in)."""
    from snapshot_s3_util_spark.parity import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[canon(r[i]) for i in order] for r in rows]


def oracle_hashes(wl, seed: int, inputs: str, registry) -> dict:
    """``{op: [columns, rows, hash, cells]}`` of each op's DuckDB oracle
    (None for a rows-only op), computed once per (seed, workload, oracle
    text)."""
    from snapshot_s3_util_spark.parity import table_hash

    sql = {op: registry[op].oracle for op in wl.ops}
    key = hashlib.sha1(json.dumps(["cells", sql], sort_keys=True)
                       .encode()).hexdigest()
    path = os.path.join(WORK, "oracle", f"{wl.name}-seed{seed}-{key[:12]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _duckdb(inputs)
    out = {}
    for op, q in sql.items():
        if q is None:
            out[op] = None
            continue
        tbl = con.execute(q).fetch_arrow_table()
        cols = list(tbl.column_names)
        rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        out[op] = [sorted(cols), *table_hash(cols, rows),
                   canon_cells(cols, rows)]
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out


def _is_float(cell: str) -> bool:
    return cell.startswith("f:") and cell != "f:nan"


def _row_key(cells: list[str]) -> tuple:
    """Sort key that pairs rows by their exact cells before their floats."""
    return ([c for c in cells if not _is_float(c)],
            [float(c[2:]) for c in cells if _is_float(c)])


def float_rel_diff(got: list[list[str]],
                   want: list[list[str]]) -> float | None:
    """Largest relative difference between paired float cells of two
    tables whose other cells are all equal; None when any other cell
    differs."""
    worst = 0.0
    for g, w in zip(sorted(got, key=_row_key), sorted(want, key=_row_key)):
        for a, b in zip(g, w):
            if a == b:
                continue
            if not (_is_float(a) and _is_float(b)):
                return None
            x, y = float(a[2:]), float(b[2:])
            worst = max(worst, abs(x - y) / max(abs(x), abs(y)))
    return worst


def check_output(path: str, expected) -> tuple[str | None, float | None]:
    """``(error, rel_diff)``: error is None when the written Parquet at
    ``path`` matches the oracle; rel_diff is set when it matched only
    within ``FLOAT_REL_TOL``."""
    import pyarrow.parquet as pq

    from snapshot_s3_util_spark.parity import table_hash

    tbl = pq.read_table(path)
    cols = list(tbl.column_names)
    if expected is None:
        return (None if tbl.num_rows else "rows-only op wrote 0 rows"), None
    want_cols, want_n, want_hash, want_cells = expected
    if sorted(cols) != want_cols:
        return f"columns {sorted(cols)} != oracle {want_cols}", None
    rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    n, h = table_hash(cols, rows)
    if n != want_n:
        return f"{n} rows != oracle {want_n}", None
    if n == 0:
        return "vacuous: both engines returned 0 rows", None
    if h == want_hash:
        return None, None
    diff = float_rel_diff(canon_cells(cols, rows), want_cells)
    if diff is None:
        return f"value hash mismatch over {n} rows", None
    if diff > FLOAT_REL_TOL:
        return (f"float values differ from the oracle by up to {diff:.3g} "
                f"of their magnitude (tolerance {FLOAT_REL_TOL:g})"), None
    return None, diff


# ---------------------------------------------------------------- workers


def spawn_worker(extra: list[str], result: str) -> tuple[dict, float]:
    """Run the worker process; returns its result and its spawn time."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--result", result, *extra]
    t_spawn = time.time()
    proc = subprocess.Popen(cmd, env=worker_env(), cwd=WORK,
                            start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=sys.stderr)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        _fail(f"worker exceeded {WORKER_TIMEOUT_S}s", 3)
    finally:
        _reap(proc.pid)
    if proc.returncode != 0 or not os.path.exists(result):
        _fail(f"worker exited with {proc.returncode}", 3)
    with open(result) as fh:
        return json.load(fh), t_spawn


def _reap(pgid: int) -> None:
    """Kill what is left of a worker's process group (Spark's Python
    daemon can outlive the driver by a moment) and wait for it."""
    for _ in range(50):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


# ---------------------------------------------------------------- metrics


def pass_layers(p: dict, cores: int) -> dict:
    """Per-layer figures of one traced pass."""
    stages = [s for r in p["spark"] for s in r["stages"]]
    jobs = {ph: sum(r["jobs"] for r in p["spark"] if r["phase"] == ph)
            for ph in ("build", "action")}
    ops = [r for r in p["ops"].values() if "build_window" in r]

    def tot(k):
        return sum(s[k] for s in stages)

    def span(ph):
        return sum(r[f"{ph}_window"][1] - r[f"{ph}_window"][0] for r in ops)

    run_s = tot("run_s")
    return {
        "build.s": span("build"),
        "build.jobs": jobs["build"],
        "action.s": span("action"),
        "action.jobs": jobs["action"],
        "ckpt.rdds": sum(r["ckpt_rdds"] for r in p["ops"].values()),
        "exec.stages": len(stages),
        "exec.tasks": tot("tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": tot("cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.busy_ratio": run_s / (p["wall_s"] * cores),
        "exec.task_skew": tracing.stage_skew(stages),
        "io.input_bytes": tot("input_bytes"),
        "io.input_records": tot("input_records"),
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": tot("fetch_wait_s"),
        "spill.disk_bytes": tot("spill_disk_bytes"),
        "spill.memory_bytes": tot("spill_memory_bytes"),
        "sink.output_bytes": tot("output_bytes"),
        "sink.output_records": tot("output_records"),
        "sink.bytes_per_input_byte":
            tot("output_bytes") / max(tot("input_bytes"), 1),
        "plan.s": sum(r.get("plan_s", 0.0) for r in ops),
    }


def layer_metrics(res: dict, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced warm passes) and per-op
    warm medians."""
    traced = [p for p in res["warm"] if p["traced"]]
    # the first warm pass still carries Python-worker ramp-up
    plain = [p for p in res["warm"][1:] if not p["traced"]]
    rows = [pass_layers(p, cores) for p in traced]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m.update({
        "import_s": res["import_s"],
        "registry.load_s": res["registry_s"],
        "session.get_spark_s": res["session_s"],
        "io.scan_s": res["scan_s"],
        "mem.peak_rss_mb": res["peak_rss_mb"],
        "trace.overhead_s": statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in plain),
        "trace.unattributed_s": statistics.median(
            p["wall_s"] - sum(r["s"] for r in p["ops"].values())
            for p in traced),
    })
    per_op = {op: statistics.median(p["ops"][op]["s"] for p in traced)
              for op in traced[0]["ops"]}
    return m, per_op


# Printed but left out of the result line: every shuffle read is local
# under local[N], so the fetch wait reads 0 on every run.
REPORTED_ONLY = {"shuffle.fetch_wait_s"}

def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_skew", "_byte")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def host_steal_s() -> float:
    """CPU time the hypervisor took from this host, summed over CPUs."""
    with open("/proc/stat") as fh:
        steal_ticks = int(fh.readline().split()[8])
    return steal_ticks / os.sysconf("SC_CLK_TCK")


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]}


def drift(walls: list[float]) -> float | None:
    """Mean of the second half of the warm passes over the first half,
    minus one: positive when passes creep up inside a run."""
    if len(walls) < 2:
        return None
    h = len(walls) // 2
    return statistics.mean(walls[-h:]) / statistics.mean(walls[:h]) - 1


# ---------------------------------------------------------------- run


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        _fail(f"engine package {ENGINE}/ not found beside perfbench/")
    sys.path.insert(0, ROOT)
    import snapshot_s3_util_spark as engine

    engine.load_all_operators()
    unknown = [op for op in wl.ops if op not in engine.REGISTRY]
    if unknown:
        _fail(f"unknown operators {unknown}")
    inputs, sizes = inputs_for(args.seed, wl.mult)
    t0 = time.time()
    oracle = oracle_hashes(wl, args.seed, inputs, engine.REGISTRY)
    oracle_s = time.time() - t0

    out = os.path.join(WORK, "out", wl.name)
    shutil.rmtree(out, ignore_errors=True)
    # workers are killed, not stopped: their JVM leaves its local dirs
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(out)
    steal0 = host_steal_s()
    # extra set-up samples (untraced runs only: a traced run reports the
    # set-up layers of its measuring worker)
    setups = []
    for i in range(0 if args.trace else SETUP_SAMPLES - 1):
        r, t = spawn_worker(["--setup-only"],
                            os.path.join(out, f"setup{i}.json"))
        setups.append(r["ready"] - t)
    res, t_spawn = spawn_worker(
        ["--inputs", inputs, "--out", out, "--ops", ",".join(wl.ops),
         "--seconds", str(args.seconds), "--trace", str(args.trace)],
        os.path.join(out, "worker.json"))
    steal_s = host_steal_s() - steal0

    setups.append(res["ready"] - t_spawn)

    # the output check, outside every timing: the cold pass's output and
    # the last warm pass's
    t0 = time.time()
    attempted = failed = 0
    failures: dict[str, str] = {}
    within_tol: dict[str, float] = {}
    for p in [res["cold"], *res["warm"]]:
        for op, row in p["ops"].items():
            attempted += 1
            if not row["ok"]:
                failed += 1
                failures.setdefault(op, f"pass {p['pass']}: {row['error']}")
    for p in (res["cold"], res["warm"][-1]):
        for op, row in p["ops"].items():
            if row["ok"]:
                err, diff = check_output(os.path.join(p["out"], op),
                                         oracle[op])
                if diff is not None:
                    within_tol[op] = max(diff, within_tol.get(op, 0.0))
                if err:
                    failed += 1
                    failures.setdefault(
                        op, f"output check, pass {p['pass']}: {err}")
    verify_s = time.time() - t0

    shutil.rmtree(out, ignore_errors=True)

    # warm pass 1 still carries Python-worker ramp-up
    steady_passes = [p for p in res["warm"][1:] if not p["traced"]]
    plain = [p["wall_s"] for p in steady_passes]
    cores = host_cpus()
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_cpu_s": res["cold"]["cpu_s"],
        # the JIT compilers still work through their queue many passes in,
        # and their share follows how fast the host ran the passes before
        "pass_cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"]
                                        for p in steady_passes),
    }
    # Printed and recorded, not in the result line: on a shared host a
    # pass's wall time follows the CPU the hypervisor gives to other
    # tenants (measured in perfbench/README.md).
    wall = {
        "cold_pass_s": res["cold"]["wall_s"],
        "pass_s": statistics.median(plain),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ops": list(wl.ops), "mult": wl.mult,
        "nproc": len(os.sched_getaffinity(0)), "cpus": cores,
        "driver_mem_gb": driver_mem_gb(),
        "calibration_s": res["calibration_s"], "versions": versions(),
        "inputs": sizes, "host_steal_s": steal_s, "setup_samples_s": setups,
        "loadavg": os.getloadavg(), **e2e, **wall,
        "warm_pass_s": plain, "warm_samples": len(plain),
        "warm_pass_cpu_s": [p["cpu_s"] for p in steady_passes],
        "warm_pass_jit_cpu_s": [p["jit_cpu_s"] for p in steady_passes],
        "cold_pass_jit_cpu_s": res["cold"]["jit_cpu_s"],
        "pass_drift": drift(plain), "oracle_s": oracle_s,
        "verify_s": verify_s, "failures": failures,
        "float_tolerance_matches": within_tol,
        "op_s": {op: statistics.median(p["ops"][op]["s"] for p in steady_passes)
                 for op in wl.ops},
    }
    print(f"workload {wl.name}: seed {args.seed}, {len(wl.ops)} ops, "
          f"{len(res['warm'])} warm passes ({len(plain)} untraced after "
          f"the first), {len(setups)} set-up samples, "
          f"local[{cores}]")
    for op, err in failures.items():
        print(f"FAILED {op}: {err}")
    for op, diff in within_tol.items():
        print(f"NOTE {op}: exact hash differs from the oracle; floats agree "
              f"within {diff:.3g} of their magnitude (summation order)")
    print(f"ops_failed_ratio {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} op runs)")
    for k, v in {**e2e, **wall}.items():
        print(f"{k} {v:.6g} {_unit(k)}")
    metrics = e2e
    if args.trace:
        layers, per_op = layer_metrics(res, cores)
        record["layers"] = layers
        record["op_traced_s"] = per_op
        for op, s in per_op.items():
            print(f"op.{op}.s {s:.4f} s")
        for k, v in layers.items():
            print(f"{k} {v:.6g} {_unit(k)}")
        _write_trace(wl.name, args.seed, res, layers, per_op)
        metrics = {k: v for k, v in layers.items() if k not in REPORTED_ONLY}
    d = record["pass_drift"]
    if d is not None and d > 0.10:
        print(f"DRIFT warm passes crept up {d:.1%} inside the run")
    print("record " + json.dumps(record))
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def _write_trace(name: str, seed: int, res: dict, metrics, per_op) -> None:
    path = os.path.join(WORK, "trace", f"{name}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": res["spans"], "metrics": metrics,
                   "op_s": per_op}, fh)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


# ---------------------------------------------------------------- steady


def steady(args) -> int:
    """Two sets of ``--steady`` runs; each metric's median, quartiles and
    spread per set, and the second median's change against the bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in metrics}
    sets: list[dict[str, list[float]]] = []
    for s in range(2):
        vals: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(1, args.steady + 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   args.workload, "--seed", str(seed), "--seconds",
                   str(args.seconds), "--trace", str(args.trace)]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=300).stdout.splitlines()
            last = json.loads(out[-1])
            rec = json.loads(next(x for x in out if x.startswith("record "))[7:])
            flag = "DRIFT" if (rec["pass_drift"] or 0) > 0.10 else ""
            print(f"set {s + 1} seed {seed}: correct={last['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in last["metrics"].items()
                             if k in bounds) + f" {flag}", flush=True)
            for k in vals:
                vals[k].append(last["metrics"][k]["value"])
        sets.append(vals)
    print(f"\n{'metric':<24}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}")
    for k, bound in bounds.items():
        meds = []
        for i, vals in enumerate(sets):
            q1, med, q3 = statistics.quantiles(vals[k], n=4)
            meds.append(med)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{k:<24}{i + 1:>4}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{spread:>9.3f}{bound if bound is not None else '':>7}")
        if bound is not None and meds[0]:
            print(f"{k:<24} second median / first = {meds[1] / meds[0]:.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="run two sets of N runs and report their spread")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
