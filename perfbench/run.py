"""Benchmark of the closure_html_spark engine: one command, two workloads.

    python3 perfbench/run.py --workload crawl_families --seed 1 \\
        --seconds 25 --trace 0 [--master local[2]]

Run from the root of a checkout of the repository.  One run:

1. set-up (reported as setup_s): starts the SparkSession with the
   package's own session helper, generates the workload's inputs from
   --seed and writes them to parquet (then reads them back into the
   cache), warms every Python worker with a blocking job (for
   crawl_families it also fills the worker's tag memo), and runs one
   untimed iteration;
2. with --trace 0, a closed loop: one client, one job at a time, at a
   fixed local[k].  Iterations run until --seconds have passed (at least
   two);
   with --trace 1, two metered iterations that read Spark's SQL metrics,
   plan shapes and stage data, then the traced replay of a fixed sample
   of the workload through the layers' public functions (tracing.py);
3. an output check against the answers the generator knows (DuckDB oracle
   SQL for corpus_dedup), outside any timed window.

A human-readable report goes to stdout; the last line is one JSON object
{"correct", "attempted", "failed", "metrics"}.  Exit code 0 on success, 2
when the checkout has no closure_html_spark package.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

METERED_ITERATIONS = 2
# timed iterations run even past --seconds; more would not fit a run into
# the benchmark's time budget (an iteration takes ~8 s on 4 vCPUs)
MIN_ITERATIONS = 2

END_TO_END = {  # name -> unit
    "wall_s": "s", "docs_per_s": "docs/s", "setup_s": "s",
    "peak_rss_mb": "MB", "correct_share": "share",
}

# per-layer metric -> (unit, the end-to-end metric and workload it should
# move).  Every traced run reports all of them; a layer a workload does not
# exercise reads 0 there.
RELATIONAL = ("corpus_clean_pipeline", "minhash_est_pairs",
              "incremental_dedup", "lm_perplexity")
CRAWL = "docs_per_s on crawl_families"
PER_LAYER = {
    "parser.charset.decode_s": ("s", CRAWL),
    "parser.pda.parse_s": ("s", CRAWL + " (memo miss)"),
    "parser.pda.nodes": ("count", CRAWL),
    "parser.pda.tag_memo_entries": ("count", CRAWL + " (memo miss)"),
    "parser.pda.tag_memo_hit_share": ("share", CRAWL + " (memo miss)"),
    "extract.extract_s": ("s", CRAWL),
    "extract.kept_span_share": ("share", CRAWL),
    "extract.metadata_s": ("s", CRAWL),
    "extract.tables_s": ("s", CRAWL),
    "extract.jsonld_s": ("s", CRAWL),
    "spark.pipeline.python_stages": ("count", "wall_s on crawl_families"),
    "spark.pipeline.python_run_s": ("s", CRAWL),
    "spark.pipeline.bytes_to_python": ("B", CRAWL),
    "spark.pipeline.bytes_from_python": ("B", CRAWL),
    "spark.engine.task_run_s": ("s", CRAWL),
    "spark.engine.gc_s": ("s", CRAWL),
    "spark.engine.shuffle_write_mb": ("MB", CRAWL),
    **{f"spark.relational.{q}.{m}": (u, "wall_s and peak_rss_mb on "
                                     "corpus_dedup; unchanged on "
                                     "crawl_families")
       for q in RELATIONAL
       for m, u in (("wall_s", "s"), ("exchanges", "count"),
                    ("checkpoint_scans", "count"), ("smj", "count"))},
    "spark.session.start_s": ("s", "setup_s on every workload"),
    "trace.replay_s": ("s", "the untraced replay of the sample"),
    "trace.overhead_s": ("s", "traced minus untraced replay"),
}


def _env(workdir: str) -> None:
    """Environment the session and its Python workers inherit: the
    checkout on the import path, a driver heap that fits a small box, and
    every scratch file inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, path) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the driver JVM and spark-submit's launcher JVM: no hsperfdata in /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_CONF_DIR"] = os.path.join(HERE, "conf")


def _environment_report(master: str) -> dict:
    import pyarrow
    import pyspark
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, timeout=10,
            capture_output=True, text=True).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    ram_gb = 0.0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_gb = int(line.split()[1]) / 1024 ** 2
    return {"nproc": os.cpu_count(), "ram_gb": round(ram_gb, 1),
            "master": master, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(), "commit": commit}


def _warm_workers(spark, cores: int, memo_pages: list | None) -> dict:
    """Blocking job with one task per core, so every Python worker is
    forked and has imported the package and loaded the DTD before timing
    (a fast warm job is served by a few reused workers).  With memo pages,
    each worker parses them until its tag memo is full.  Returns the pages
    each worker parsed and its memo entries after."""
    def warm(batches):
        import pyarrow as pa
        from tracing import fill_memo

        from closure_html_spark.dtd import load_dtd
        dtd = load_dtd()
        used = fill_memo(dtd, memo_pages or ())
        time.sleep(1.0)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pages": [used], "entries": [len(dtd.tag_cache)]})

    rows = spark.range(cores, numPartitions=cores) \
        .mapInArrow(warm, "pages long, entries long").collect()
    return {"memo_warm_pages_per_worker": [r.pages for r in rows],
            "tag_memo_entries_after_warm": [r.entries for r in rows]}


def _iteration(spark, wl, steps, probe=None) -> tuple[float, dict]:
    """One closed-loop iteration: every step in order, each under its own
    job group.  Returns the wall and, with a probe, per-step metrics."""
    per_step = {}
    t_iter = time.perf_counter()
    for step, run in steps:
        group = f"{wl.name}.{step}"
        spark.sparkContext.setJobGroup(group, group)
        mark = probe.mark(group) if probe else None
        t0 = time.perf_counter()
        run()
        wall = time.perf_counter() - t0
        if probe:
            per_step[step] = {"wall_s": wall, **probe.since(mark, group)}
    wall = time.perf_counter() - t_iter
    gc.collect()  # release checkpointed frames between iterations
    return wall, per_step


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both the
    JVM and its Python workers to end: the JVM exits when its stdin
    closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _summary(values: list[float]) -> dict:
    if len(values) > 1:
        q1, med, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = med = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def _layer_metrics(wl, metered: list[dict], session_s: float,
                   replay: dict) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    out["spark.session.start_s"] = session_s

    def med(key, steps=None):
        return statistics.median(
            sum(v[key] for s, v in it.items() if steps is None or s in steps)
            for it in metered)

    for key in ("python_stages", "python_run_s", "bytes_to_python",
                "bytes_from_python"):
        out[f"spark.pipeline.{key}"] = med(key)
    for key in ("task_run_s", "gc_s", "shuffle_write_mb"):
        out[f"spark.engine.{key}"] = med(key)
    for q in RELATIONAL:
        if q in metered[0]:
            for key in ("wall_s", "exchanges", "checkpoint_scans", "smj"):
                out[f"spark.relational.{q}.{key}"] = med(key, {q})
    self_s, counts = replay["self_s"], replay["counts"]
    out["parser.charset.decode_s"] = self_s.get("decode_html", 0.0)
    out["parser.pda.parse_s"] = self_s.get("parse_html", 0.0)
    out["parser.pda.nodes"] = counts.get("nodes", 0)
    out["parser.pda.tag_memo_entries"] = replay["tag_memo_entries"]
    out["parser.pda.tag_memo_hit_share"] = replay["tag_memo_hit_share"]
    out["extract.extract_s"] = self_s.get("extract_main_content", 0.0)
    if counts.get("spans"):
        out["extract.kept_span_share"] = counts["kept_spans"] / counts["spans"]
    out["extract.metadata_s"] = self_s.get("metadata_of_doc", 0.0)
    out["extract.tables_s"] = self_s.get("tables_of_doc", 0.0)
    out["extract.jsonld_s"] = self_s.get("jsonld_of_doc", 0.0)
    out["trace.replay_s"] = replay["untraced_s"]
    out["trace.overhead_s"] = replay["traced_s"] - replay["untraced_s"]
    return out


def run(args, workdir: str) -> tuple[dict, list[str]]:
    from engine import StatusProbe, peak_rss_mb
    from workloads import WORKLOADS

    from closure_html_spark.spark.session import get_spark

    cores = args.cores
    wl = WORKLOADS[args.workload](workdir, args.seed, cores)
    report = [f"# perfbench {wl.name} seed={args.seed} trace={args.trace}",
              f"# why: {wl.why}",
              "# env: " + json.dumps(_environment_report(args.master))]

    t_setup = time.perf_counter()
    spark = get_spark(app=f"perfbench-{wl.name}", master=args.master,
                      shuffle_partitions=2 * cores)
    session_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        wl.generate()
        wl.load(spark)
        fill_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.props.update(_warm_workers(spark, cores, wl.memo_pages))
        workers_s = time.perf_counter() - t0
        steps = wl.steps(spark)
        # the checked run doubles as the untimed warm-up iteration (JIT,
        # codegen, page cache); its outputs are compared after timing
        spark.sparkContext.setJobGroup(f"{wl.name}.check", "check")
        outputs = wl.collect(spark)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + fill_s + warm_s
        n_docs = wl.props.get("pages", wl.props.get("documents"))
        report.append("# workload: " + json.dumps(wl.props))
        report.append(f"# setup: session_s={session_s:.3f} "
                      f"fill_s={fill_s:.3f} "
                      f"warm_s={warm_s:.3f} (workers {workers_s:.3f})")

        if args.trace:
            from tracing import traced_replay
            probe = StatusProbe(spark)
            metered = [_iteration(spark, wl, steps, probe)[1]
                       for _ in range(METERED_ITERATIONS)]
            sample, warm_pages = wl.replay_pages()
            replay = traced_replay(sample, wl.replay_stages, warm_pages)
            report.append(f"# traced replay: {len(sample)} pages x "
                          f"{len(wl.replay_stages)} stages, "
                          f"{replay['n_spans']} spans in the last round")
            for step, vals in metered[-1].items():
                report.append(f"# step {step}: " + json.dumps(
                    {k: round(v, 4) for k, v in vals.items()}))
            layer = _layer_metrics(wl, metered, session_s, replay)
            metrics = {k: {"value": v, "unit": PER_LAYER[k][0]}
                       for k, v in layer.items()}
            report.append("# metric value unit -> moves")
            report += [f"{k} {v:.6g} {PER_LAYER[k][0]} -> {PER_LAYER[k][1]}"
                        for k, v in layer.items()]
        else:
            walls = []
            t_loop = time.perf_counter()
            while len(walls) < MIN_ITERATIONS or (
                    time.perf_counter() - t_loop
                    + statistics.median(walls) <= args.seconds):
                walls.append(_iteration(spark, wl, steps)[0])
            rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            report.append(f"# timed iterations: {[round(w, 3) for w in walls]}")
    finally:
        wl.unload()
        _stop(spark)
    t0 = time.perf_counter()
    chk = wl.verify(outputs)
    report.append(f"# check ({time.perf_counter() - t0:.1f} s): "
                  + json.dumps(chk))

    failed = chk["wrong"] + chk["errors"]
    attempted = chk["attempted"]
    # the seed's listed defect is counted as failed, but does not make the
    # run incorrect; any other wrong or error row does
    correct = chk["errors"] == 0 and chk["wrong"] == chk["known_defect"]
    if not args.trace:
        samples = {
            "wall_s": walls,
            "docs_per_s": [n_docs / w for w in walls],
            "setup_s": [setup_s],
            "peak_rss_mb": [rss],
            "correct_share": [1.0 - failed / attempted],
        }
        report.append("# metric median q1 q3 n unit")
        metrics = {}
        for k, vals in samples.items():
            s = _summary(vals)
            report.append(f"{k} {s['median']:.6g} {s['q1']:.6g} "
                          f"{s['q3']:.6g} {s['n']} {END_TO_END[k]}")
            metrics[k] = {"value": s["median"], "unit": END_TO_END[k]}
        report.append(f"failed_share {failed / attempted:.6g} - - 1 share "
                      f"({failed} of {attempted} rows)")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_families", "corpus_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args(argv)
    m = re.fullmatch(r"local\[([1-9][0-9]*)\]", args.master)
    if m is None:
        ap.error(f"--master must be local[k], got {args.master!r}")
    args.cores = int(m.group(1))
    if not os.path.isdir(os.path.join(ROOT, "closure_html_spark")):
        print(f"perfbench: no closure_html_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    _env(workdir)
    sys.path.insert(0, ROOT)
    try:
        result, report = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run's directory is still there
            pass
    print("\n".join(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
