#!/usr/bin/env python3
"""Linkage benchmark: input pages → complete clusters, one workload per call.

    python3 linkbench/run.py --workload dup_clusters --seed 1 --seconds 30 --trace 0

One process drives one ``local[<cores>]`` session from the package's own
``session.get_spark``, as a closed loop with a single client: a run is one
batch job from the input DataFrame to every ``(id, cluster_id)`` row, and
the next run starts when the previous one has been collected and checked.
The inputs are generated from ``--seed`` and written to parquet; the
program only receives ``spark.read.parquet`` of them.

``--trace 0`` measures the first run of a fresh session, cold as a
spark-submit batch job is, and reports the end-to-end metrics of
``BENCHMARK.json``. A cold run lasts longer than ``--seconds`` (code
generation and JIT warm-up are most of it), so exactly one run is
measured per call; steadiness comes from the median over calls. ``--trace
1`` follows the cold run with one layer-by-layer run, one untraced run, and
one checkpointed run plus resume (``linkbench/trace.py``), and reports the
per-layer metrics. The last stdout line is the result object; the line
before it carries the host facts and each metric's scope. Both, and the
trace spans, are also written to ``linkbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# name → (generator in linkbench.workloads, its size arguments). At these
# sizes a cold run at local[4] takes about 30 s and a warm one 11-15 s,
# most of either spent on code generation and per-job fixed cost rather
# than data: a warm run takes about 10 s at any input size here.
WORKLOADS = {
    "dup_clusters": ("dup_clusters", {"n_pages": 800}),
    "drift_chain": ("drift_chain", {"n_chains": 2, "chain_len": 300}),
}

SCOPE = {
    "link_s": "wall time of the first link_pages() call of a fresh session "
              "(cold JVM: code generation and JIT warm-up included) through "
              "collect() of every (id, cluster_id) row; excludes session "
              "start, input generation and the output check",
    "pages_per_s": "input pages / link_s",
    "jobs_per_run": "Spark jobs started by the measured run",
    "shuffle_mb": "shuffle-write MB of the measured run",
    "pairwise_f1": "exact all-pairs F1 of the measured run against the "
                   "generated truth",
    "success_frac": "runs whose output passed every check / runs attempted",
    "setup_s": "session start + input generation, parquet write and read",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> dict[str, str]:
    """Point every writer at ``work`` and make the package importable by
    this process and by Spark's Python workers; → extra Spark confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


@dataclass
class Run:
    ok: bool
    secs: float = 0.0
    jobs: int = 0
    shuffle_mb: float = 0.0
    f1: float = 0.0
    rows: list | None = None


@dataclass
class Input:
    corpus: object  # workloads.Corpus
    pages: object  # the DataFrame the program receives
    parquet_bytes: int


class Bench:
    """Checked runs of one session; keeps every outcome."""

    def __init__(self, spark, cfg):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cfg = cfg
        self.runs: list[Run] = []

    def check(self, rows, corpus, what: str) -> tuple[bool, float]:
        from linkbench.check import check_clusters

        problems, f1 = check_clusters(rows, corpus.urls, corpus.truth)
        for p in problems:
            print(f"linkbench: {what}: {p}", file=sys.stderr)
        return not problems, f1

    def link(self, inp: Input) -> Run:
        """One untraced, checked run; an error counts as a failed run."""
        from entity_linking_spark.plans.pipeline import link_pages

        from linkbench import sparkstats

        group = f"link-{len(self.runs)}"
        sparkstats.begin(self.sc, group)
        t0 = time.perf_counter()
        try:
            out = link_pages(
                inp.pages, id_col="url", text_col="text", url_col="url",
                config=self.cfg,
            ).collect()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run = Run(ok=False)
        else:
            secs = time.perf_counter() - t0
            rows = [(r["id"], r["cluster_id"]) for r in out]
            st = sparkstats.collect(self.sc, group)
            ok, f1 = self.check(rows, inp.corpus, group)
            run = Run(ok, secs, st.jobs, st.shuffle_mb, f1, rows)
        self.spark.catalog.clearCache()
        self.runs.append(run)
        return run


def _trace(bench: Bench, inp: Input, cold: Run, work: str,
           run_id: str) -> tuple[dict, dict]:
    """After the ``cold`` run of ``inp``: a traced run, an untraced run,
    then a checkpointed run and its resume; → (per-layer metrics, extra
    facts for the stamp)."""
    from linkbench import sparkstats
    from linkbench.trace import LAYERS, Tracer, traced_checkpoint, traced_link

    tr = Tracer(bench.sc, run_id, _cores())

    def checked(what: str, fn, want: list | None) -> list | None:
        """Run ``fn``, check its clusters, and require them to equal
        ``want`` when given; records the outcome as one run."""
        try:
            rows = sorted(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bench.runs.append(Run(ok=False))
            return None
        ok, f1 = bench.check(rows, inp.corpus, what)
        if want is not None and rows != want:
            print(f"linkbench: {what}: clusters differ", file=sys.stderr)
            ok = False
        bench.runs.append(Run(ok, f1=f1))
        return rows

    want = sorted(cold.rows)
    with tr.span("trace.link"):
        checked("traced run", lambda: traced_link(tr, inp.pages, bench.cfg),
                want)
    bench.spark.catalog.clearCache()
    after = bench.link(inp)
    ckpt = {}

    def ckpt_run():
        ckpt["rows"], ckpt["resumed"] = traced_checkpoint(
            tr, bench.spark, inp.pages, bench.cfg,
            os.path.join(work, "checkpointed-run"), inp.parquet_bytes,
        )
        return ckpt["rows"]

    ckpt_rows = checked("checkpointed run", ckpt_run, None)
    if ckpt_rows is not None:
        checked("checkpoint resume", lambda: ckpt["resumed"], ckpt_rows)
        # the two runners should agree; a difference is reported, not
        # failed, until they share one stage graph
        tr.metrics["checkpoint.pages_clustered_differently"] = sum(
            a != b for a, b in zip(ckpt_rows, want)
        )
    m = tr.metrics
    # against the untraced run right after it: the cold run before it
    # also pays code generation
    m["trace.overhead_s"] = sum(m[f"{name}.s"] for name in LAYERS) - after.secs
    m["trace.warm_link_s"] = after.secs
    m["jvm_peak_mb"] = sparkstats.jvm_peak_mb(bench.sc)
    sizes = {
        "block_rows": m.get("blocking.block_keys.rows_out"),
        "pairs": m.get("pairs.candidate_pairs.pairs"),
        "edges": m.get("pipeline.edges.edges"),
    }
    tr.write(
        os.path.join(BENCH_DIR, ".out", f"trace-{run_id}.json"),
        {"cold_link_s": cold.secs},
    )
    return m, sizes


def run(args, work: str) -> tuple[dict, dict]:
    """→ (result object, stamp) for one benchmark call."""
    extra_conf = _environment(work)
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark

    from entity_linking_spark.plans.pipeline import LinkageConfig
    from entity_linking_spark.session import get_spark

    from linkbench import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    gen, size = WORKLOADS[args.workload]

    t_setup = time.perf_counter()
    spark = get_spark("linkbench", cores=_cores(), extra_conf=extra_conf)
    t_session = time.perf_counter()
    try:
        corpus = getattr(workloads, gen)(args.seed, **size)
        path = os.path.join(work, "pages.parquet")
        pq.write_table(
            pa.table({"url": corpus.urls, "text": corpus.texts,
                      "lang": corpus.langs}),
            path,
        )
        inp = Input(corpus, spark.read.parquet(path), os.path.getsize(path))
        bench = Bench(spark, LinkageConfig())
        setup_s = time.perf_counter() - t_setup
        cold = bench.link(inp)
        if cold.rows is None:
            raise RuntimeError("the measured run raised")

        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        sizes = {"pages": len(inp.corpus), "input_bytes": inp.parquet_bytes}
        if args.trace:
            values, trace_sizes = _trace(bench, inp, cold, work, run_id)
            sizes.update(trace_sizes)
            wanted = spec["per_layer"]
        else:
            values = {
                "link_s": cold.secs,
                "pages_per_s": len(inp.corpus) / cold.secs,
                "jobs_per_run": cold.jobs,
                "shuffle_mb": cold.shuffle_mb,
                "pairwise_f1": cold.f1,
                "success_frac": float(cold.ok),
                "setup_s": setup_s,
            }
            wanted = spec["end_to_end"]
    finally:
        spark.stop()
        _stop_gateway(spark)

    failed = sum(not r.ok for r in bench.runs)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.runs),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": _cores(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "sizes": sizes,
        "setup_parts_s": {
            "session": t_session - t_setup,
            "inputs": t_setup + setup_s - t_session,
        },
        "scope": SCOPE if not args.trace else {
            "per_layer": "one traced run after the cold run; each layer's "
                         "output is persisted and counted before the next",
        },
    }
    return result, stamp


def _stop_gateway(spark) -> None:
    """Shut the Py4J gateway and wait for its JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30,
                    help="measuring window; a cold run outlasts it, so one "
                         "run is measured")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(
        BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(BENCH_DIR, ".out"), exist_ok=True)
    try:
        result, stamp = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    name = f"run-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(BENCH_DIR, ".out", name), "w") as fh:
        json.dump({"stamp": stamp, "result": result}, fh, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
