"""One benchmark Spark driver process, started by ``run.py``.

It sets up the engine exactly as a batch job does (import, load the
operator registry, ``get_spark``), then runs one cold pass over the
workload's operators and warm passes until ``--seconds`` have elapsed.
Each operator builds its frame (``REGISTRY[op].fn``) and writes it as
Parquet. With ``--trace`` the warm passes alternate untraced and traced,
so the run also measures the tracing overhead. With ``--setup-only`` it
stops once the session is ready: one more set-up sample. The result is
one JSON file.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import tracing  # noqa: E402


def _args():
    ap = argparse.ArgumentParser()
    ap.add_argument("--result", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--inputs")
    ap.add_argument("--out")
    ap.add_argument("--ops", default="")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    return ap.parse_args()


class Bench:
    def __init__(self, args, engine, spark, clear_persistent_rdds, tracer,
                 store):
        self.args = args
        self.engine = engine
        self.spark = spark
        self.clear = clear_persistent_rdds
        self.tracer = tracer
        self.store = store
        self.ops = [o for o in args.ops.split(",") if o]

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        out_dir = os.path.join(self.args.out, f"p{pass_no}")
        rows: dict[str, dict] = {}
        frames: dict = {}
        spark_rows = None
        if traced:
            self.store.new_jobs()  # drop the jobs of earlier passes
        cpu0, jit0 = tracing.tree_cpu_s(os.getpid())
        t0 = time.time()
        if traced:
            with self.tracer.span("pass", pass_no=pass_no) as rec:
                for op in self.ops:
                    rows[op] = self._op(op, pass_no, out_dir, frames)
            wall = rec["end"] - rec["start"]
            cpu1, jit1 = tracing.tree_cpu_s(os.getpid())
            spark_rows = self._spark_rows(rows)
            # outside every span: re-plans each frame (see plan_seconds)
            for op, df in frames.items():
                rows[op]["plan_s"] = tracing.plan_seconds(df)
        else:
            for op in self.ops:
                rows[op] = self._op(op, pass_no, out_dir, None)
            wall = time.time() - t0
            cpu1, jit1 = tracing.tree_cpu_s(os.getpid())
        # the cold pass's output is kept: run.py checks it with the last
        if pass_no > 1:
            shutil.rmtree(os.path.join(self.args.out, f"p{pass_no - 1}"),
                          ignore_errors=True)
        return {"pass": pass_no, "traced": traced, "wall_s": wall,
                "cpu_s": cpu1 - cpu0, "jit_cpu_s": jit1 - jit0, "ops": rows,
                "out": out_dir, "spark": spark_rows}

    def _spark_rows(self, rows: dict[str, dict]) -> list[dict]:
        """Jobs and stage metrics of the pass just run, per op and phase."""
        windows = [
            (*row[f"{phase}_window"], op, phase)
            for op, row in rows.items() if "build_window" in row
            for phase in ("build", "action")
        ]
        out = []
        for (op, phase), jobs in tracing.attribute(self.store.new_jobs(),
                                                   windows).items():
            stages = [self.store.stage(sid) for j in jobs for sid in j["stages"]]
            out.append({"op": op, "phase": phase, "jobs": len(jobs),
                        "stages": [s for s in stages if s]})
        return out

    def _op(self, op: str, pass_no: int, out_dir: str, frames) -> dict:
        """One op's build and write; traced when ``frames`` collects the
        built frames."""
        fn = self.engine.REGISTRY[op].fn
        path = os.path.join(out_dir, op)
        row: dict = {}
        t0 = time.time()
        try:
            if frames is not None:
                frames[op] = self._traced_op(op, pass_no, path, row)
            else:
                fn(self.spark, self.args.inputs).write.mode("overwrite").parquet(path)
            row["ok"] = True
        except Exception as ex:  # an operator failure is a result, not a crash
            row["ok"] = False
            row["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc()
        row["s"] = time.time() - t0
        row["ckpt_rdds"] = self.clear(self.spark)
        return row

    def _traced_op(self, op: str, pass_no: int, path: str, row: dict):
        """The same build and write, inside spans and job groups; returns
        the built frame."""
        sc = self.spark.sparkContext
        try:
            with self.tracer.span("op", op=op, pass_no=pass_no):
                sc.setJobGroup(tracing.job_group(pass_no, op, "build"), op)
                with self.tracer.span("op.build", op=op) as b:
                    df = self.engine.REGISTRY[op].fn(self.spark, self.args.inputs)
                sc.setJobGroup(tracing.job_group(pass_no, op, "action"), op)
                with self.tracer.span("op.action", op=op) as a:
                    df.write.mode("overwrite").parquet(path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        row["build_window"] = (b["start"], b["end"])
        row["action_window"] = (a["start"], a["end"])
        return df

    def calibration_s(self) -> float:
        """Median of 3 full-scan counts over lineitem (the host probe)."""
        df = self.spark.read.parquet(
            os.path.join(self.args.inputs, "lineitem.parquet"))
        df.count()
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.count()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    def scan_s(self) -> float:
        """Median of 3 scans of every input table through ``load_table``,
        sunk by a noop write."""
        from snapshot_s3_util_spark.io import TABLES, load_table

        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            for t in TABLES:
                (load_table(self.spark, self.args.inputs, t)
                 .write.format("noop").mode("overwrite").save())
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)


def _warm_passes(bench: Bench, seconds: float, trace: bool) -> list[dict]:
    """Warm passes until ``seconds`` have elapsed. The first one still
    carries Python-worker ramp-up and is left out of every figure, so
    there are at least four: a median of three rejects one disturbed
    pass. In traced mode they alternate untraced and traced, ending on a
    traced one."""
    passes: list[dict] = []
    t0 = time.time()
    while (len(passes) < 4 or time.time() - t0 < seconds
           or (trace and len(passes) % 2)):
        traced = trace and len(passes) % 2 == 1
        passes.append(bench.run_pass(len(passes) + 1, traced))
    return passes


def main() -> None:
    args = _args()
    res: dict = {"t_start": T_START}
    import snapshot_s3_util_spark as engine
    t1 = time.time()
    engine.load_all_operators()
    t2 = time.time()
    from snapshot_s3_util_spark.session import clear_persistent_rdds, get_spark

    spark = get_spark("perfbench")
    t3 = time.time()
    res.update(ready=t3, import_s=t1 - T_START, registry_s=t2 - t1,
               session_s=t3 - t2)
    if not args.setup_only:
        try:
            res.update(_measure(args, engine, spark, clear_persistent_rdds,
                                (T_START, t1, t2, t3)))
        except BaseException:
            traceback.print_exc()
            _exit(1)
    with open(args.result, "w") as fh:
        json.dump(res, fh)
    _exit(0)


def _exit(code: int) -> None:
    """Exit without stopping the session: the JVM's shutdown is part of no
    metric, and run.py kills and reaps the worker's whole process group."""
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)


def _measure(args, engine, spark, clear, setup_marks) -> dict:
    tracer = tracing.Tracer()
    store = None
    if args.trace:
        t_start, t1, t2, t3 = setup_marks
        tracer.add("setup.import", t_start, t1)
        tracer.add("setup.registry", t1, t2)
        tracer.add("setup.session", t2, t3)
        store = tracing.StatusStore(spark)
    bench = Bench(args, engine, spark, clear, tracer, store)
    res: dict = {}
    sampler = tracing.RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    try:
        res["cold"] = bench.run_pass(0, False)
        res["warm"] = _warm_passes(bench, args.seconds, bool(args.trace))
        res["calibration_s"] = bench.calibration_s()
        if args.trace:
            res["scan_s"] = bench.scan_s()
    finally:
        if sampler:
            sampler.stop()
    if args.trace:
        res["peak_rss_mb"] = sampler.peak_kb / 1024.0
        res["spans"] = tracer.spans
    return res


if __name__ == "__main__":
    main()
