#!/usr/bin/env python3
"""canonicity-spark benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One run generates the seeded corpus,
builds one Spark session at ``local[<cpu count>]`` with a driver heap
that fits in RAM, warms up on a slice of the corpus (discarded), then
runs the workload's operation back to back for ``--seconds`` and checks
every operation's output. The last stdout line is the result object
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before
it holds the run's context (host, sizes, load controls, per-operation
walls and digests).

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json:
``setup_s`` (input generation overlapped with the session build, plus
the discarded warm-up) and ``docs_per_s`` (documents of correct
operations over the wall of all operations in the window). Operations
that fail or produce a wrong output are counted in ``failed``.

``--trace 1`` reports the per-layer metrics. Its operations are driven
stage by stage under spans and Spark job groups. On kg_build they
alternate with plain operations, whose public ``stage_wall`` gives
``pipeline.stage_s.*`` and whose wall ``trace.overhead_frac`` compares
against (0 on curate_dedup, which drives its stages through
``curate.run`` and reads ``curate.stage_s.*`` from its
``stage_wall``). Span-derived ``<layer>_s`` figures cover the layer
call plus its ``write_stage`` (Spark is lazy, so the layer's work runs
inside the write); ``io_catalog.write_s`` is the time inside
``write_stage`` on kg_build's driven stages. ``<layer>.cpu_s``, ``shuffle_bytes``,
``spill_bytes``, ``tasks`` and the job counts come from the job groups,
read from ``statusTracker`` and the UI's REST API after timing stops.
After the window it times layer paths the plain operation does not
reach: the band kernel in-process (``link.band_us_per_doc``), the
distributed connected-components loop on a 2^16-node star graph
(kg_build), and on curate_dedup the LSH candidate count, one archive
index probe (``similarity.against_s``) and a closed loop of streaming
micro-batches sized 20 to 2000 docs from the seed; a failed batch is
counted in ``streaming.failed_batches`` and its error class is recorded
in the context line. Layers a workload does not call report 0.

Which end-to-end figure each layer should move: extract.*, link.run_s,
link.spark_jobs, canonicalize.*, materialize.run_s and io_catalog.* move
kg_build docs_per_s; similarity.* and link.band_us_per_doc move
curate_dedup docs_per_s; streaming.* and similarity.against_s belong to
the micro-batch ingest path, which has no end-to-end workload here.

``--smoke`` runs every workload in both modes on tiny inputs in one
session and checks that every metric named in BENCHMARK.json is
emitted with its unit. ``bench.py`` and ``bench_extra.py`` are the
older harnesses and are left as they are.

Everything the run writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` (span dumps) in the repository root.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
DRIFT_FLAG = 1.25  # after/before CPU-control ratio beyond which a run is flagged


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> dict:
    """Point every scratch location inside the checkout, size the
    session for this host, and make the package importable by the
    Python workers. Returns the host facts recorded with the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit runs to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(4096, mem_kb // 1024 // 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {"cpus": os.cpu_count(), "heap_mb": heap_mb, "mem_total_mb": mem_kb // 1024}


def build_session(work: str):
    from canonicity_spark import session

    tmp = os.path.join(work, "tmp")
    spark = session.build(
        app_name="canonicity-perfbench",
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            # scratch and metastore files stay in the checkout; no
            # console progress bars on stdout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for it and every
    process under it (the Python workers) to exit."""
    from pyspark import SparkContext

    from tracing import _children_map

    kids = _children_map()
    tree, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 size: str = "full", spark=None) -> tuple[dict, dict]:
    """One benchmark run. Returns (result, context). With ``spark`` the
    run reuses that session and leaves it running."""
    import tracing
    import workloads as wl

    sizes = wl.SIZES[size]
    n_docs = sizes[workload]
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    host = prepare_env(work)
    own_session = spark is None
    ctx: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                 "trace": trace, "size": size, "docs": n_docs, **host,
                 "loadavg_before": os.getloadavg()}
    ctx["cpu_control_before_s"] = tracing.cpu_control()
    try:
        # -- set-up: seeded inputs (generated while the session starts),
        # session, warm-up operation on a slice (discarded)
        t_setup = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            fut = pool.submit(wl.make_input_files, workload, seed, n_docs,
                              os.path.join(work, "inputs"))
            if own_session:
                spark = build_session(work)
            paths = fut.result()
        inp = wl.load_inputs(spark, workload, paths, n_docs)
        ctx["warmup_stage_wall"] = wl.run_op(spark, workload, inp,
                                             os.path.join(work, "warm"), warm=True)
        setup_s = time.perf_counter() - t_setup
        ctx["setup_s"] = round(setup_s, 3)
        tracer = tracing.Tracer(spark, run_id=os.path.basename(work), enabled=trace)

        # -- timed window: operations back to back until `seconds` elapse.
        # In a traced run the process tree's resident memory is sampled
        # and operations are driven stage by stage; on kg_build plain and
        # traced operations alternate, which measures the tracing
        # overhead (curate_dedup's traced run is the longest, so it skips
        # the plain operation).
        rss = tracing.RssSampler()
        if trace:
            rss.start()
        ops: list[dict] = []
        cc_stats: dict = {}
        t_window = time.perf_counter()
        alternate = trace and workload == "kg_build"
        min_ops = 2 if alternate else 1
        while len(ops) < min_ops or time.perf_counter() - t_window < seconds:
            i = len(ops)
            traced_op = trace and (i % 2 == 1 or not alternate)
            rec = {"i": i, "traced": traced_op, "dir": os.path.join(work, f"op{i}")}
            t0 = time.perf_counter()
            try:
                if not traced_op:
                    rec["stage_wall"] = wl.run_op(spark, workload, inp, rec["dir"])
                elif workload == "kg_build":
                    wl.drive_kg(spark, inp, rec["dir"], tracer, cc_stats)
                else:
                    rec["stage_wall"] = wl.drive_curate(spark, inp, rec["dir"], tracer)
            except Exception as exc:  # a failed operation is a measured outcome
                rec["error"] = wl.error_class(exc)
                log(f"op {i} failed: {exc!r:.500}")
            rec["s"] = time.perf_counter() - t0
            ops.append(rec)
        window_s = time.perf_counter() - t_window
        peak_rss = rss.stop() if trace else 0

        # -- checks (after timing)
        digests = set()
        for rec in ops:
            if "error" in rec:
                continue
            rec.update(wl.check_op(workload, inp, rec["dir"]))
            digests.add(rec["digest"])
            if trace:
                rec["bytes"], rec["files"] = wl.written_files(rec["dir"])
        if len(digests) > 1:  # every operation on one input must agree
            for rec in ops:
                rec["ok"] = False
        good = [r for r in ops if r.get("ok")]
        failed = len(ops) - len(good)
        correct = bool(good) and all(r.get("ok") for r in ops if "error" not in r)

        if trace:
            metrics, probes_ok = traced_metrics(spark, workload, inp, work, seed, sizes,
                                                ops, tracer, cc_stats, ctx)
            metrics["peak_rss_mb"] = {"value": peak_rss / 2**20, "unit": "MB"}
            correct = correct and probes_ok
            os.makedirs(OUT_ROOT, exist_ok=True)
            span_path = os.path.join(OUT_ROOT, f"spans_{workload}_{seed}.json")
            tracer.dump(span_path)
            ctx["spans_file"] = os.path.relpath(span_path, ROOT)
            ctx["span_self_s"] = {k: round(v, 3) for k, v in tracer.self_times().items()}
        else:
            # docs of correct operations over the wall of all of them
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "docs_per_s": {"value": n_docs * len(good) / sum(r["s"] for r in ops),
                               "unit": "1/s"},
            }

        ctx["window_s"] = round(window_s, 3)
        ctx["ops"] = [{k: (round(v, 3) if isinstance(v, float) else v)
                       for k, v in r.items() if k != "dir"} for r in ops]
        ctx["loadavg_after"] = os.getloadavg()
        ctx["cpu_control_after_s"] = tracing.cpu_control()
        drift = ctx["cpu_control_after_s"] / ctx["cpu_control_before_s"]
        ctx["cpu_drift"] = round(drift, 3)
        ctx["cpu_drift_flag"] = not (1 / DRIFT_FLAG <= drift <= DRIFT_FLAG)
    finally:
        if own_session and spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {"correct": correct, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, ctx


def traced_metrics(spark, workload, inp, work, seed, sizes, ops, tracer,
                   cc_stats, ctx) -> tuple[dict, bool]:
    """Per-layer metrics of a traced run; layers the workload does not
    call report 0. Probe outcomes (error classes of failed streaming
    batches, the distributed CC check) go into ``ctx``."""
    import tracing
    import workloads as wl

    m: dict[str, tuple[float, str]] = {}
    plain = [r for r in ops if not r["traced"] and "error" not in r]
    traced = [r for r in ops if r["traced"] and "error" not in r]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    ok = True

    # stage walls from the public stage_wall fields (kg_build's plain
    # operations; curate_dedup's operations, driven through curate.run)
    walls = [r["stage_wall"] for r in ops if "stage_wall" in r and "error" not in r]
    for name in wl.KG_STAGE_LAYER:
        m[f"pipeline.stage_s.{name}"] = (
            med([w[name] for w in walls]) if workload == "kg_build" else 0.0, "s")
    for name in wl.CURATE_STAGE_LAYER:
        m[f"curate.stage_s.{name}"] = (
            med([w[name] for w in walls]) if workload == "curate_dedup" else 0.0, "s")

    n_traced = max(len(traced), 1)
    span = lambda name: tracer.total(name) / n_traced  # noqa: E731
    kg = workload == "kg_build"
    for key, stage in (("parse", "parsed"), ("mentions", "mentions"), ("triples", "raw_triples")):
        m[f"extract.{key}_s"] = (span(f"stage.{stage}"), "s")
    m["extract.us_per_doc"] = (
        sum(m[f"extract.{k}_s"][0] for k in ("parse", "mentions", "triples"))
        / inp.n_docs * 1e6, "us")
    m["link.run_s"] = (span("stage.surface_links"), "s")
    m["canonicalize.cc_s"] = (span("stage.labels"), "s")
    m["canonicalize.cc_rounds"] = (cc_stats.get("rounds", 0), "count")
    m["canonicalize.cc_path"] = (
        {"driver": 1, "distributed": 2}.get(cc_stats.get("path"), 0), "code")
    m["canonicalize.entities_s"] = (span("stage.entities"), "s")
    m["materialize.run_s"] = (span("stage.triples"), "s")
    m["io_catalog.write_s"] = (span("io_catalog.write_stage"), "s")
    written = [(r["bytes"], r["files"]) for r in ops if "bytes" in r]
    m["io_catalog.bytes_written"] = (med([b for b, _ in written]), "bytes")
    m["io_catalog.files_written"] = (med([f for _, f in written]), "count")
    m["similarity.near_pairs_s"] = (span("stage.near_pairs"), "s")
    m["link.band_us_per_doc"] = (wl.band_us_per_doc(inp.sample_texts), "us")

    # layer passes outside the timed window
    cand = verified = 0
    against_s = 0.0
    stream = {"batches": 0, "walls": [], "compact": [], "errors": [], "bases": 0}
    dist = {"s": 0.0, "rounds": 0, "edges": 0}
    if kg:
        dist = wl.dist_cc_probe(spark, sizes["cc_nodes"], tracer)
        ok = ok and dist["ok"]
    elif traced:
        cand, verified = wl.candidate_pairs(spark, traced[0]["dir"], tracer)
        against_s = wl.against_probe(spark, inp, tracer, n_index=500, n_new=50)
        stream = wl.streaming_probe(spark, inp, os.path.join(work, "stream"), tracer,
                                    seed, sizes["stream_budget_s"])
        ok = ok and stream["ok"]
    m["similarity.candidate_pairs"] = (cand, "count")
    m["similarity.verified_pairs"] = (verified, "count")
    m["similarity.verify_yield"] = (verified / cand if cand else 0.0, "ratio")
    m["similarity.against_s"] = (against_s, "s")
    m["streaming.batches"] = (stream["batches"], "count")
    m["streaming.failed_batches"] = (len(stream["errors"]), "count")
    m["streaming.batch_p50_s"] = (med(stream["walls"]), "s")
    m["streaming.compact_s"] = (med(stream["compact"]), "s")
    m["streaming.archive_bases"] = (stream["bases"], "count")
    m["canonicalize.dist_cc_s"] = (dist["s"], "s")
    m["canonicalize.dist_cc_rounds"] = (dist["rounds"], "count")
    m["canonicalize.dist_cc_edges_per_s"] = (dist["edges"] / dist["s"] if dist["s"] else 0.0, "1/s")

    # Spark job figures, read only now that timing is over
    t0 = time.perf_counter()
    jobs = tracing.job_counts(spark, wl.LAYER_GROUPS)
    figs = tracing.stage_figures(spark, wl.LAYER_GROUPS)
    rest_s = time.perf_counter() - t0
    m["link.spark_jobs"] = (jobs["link"] / n_traced if kg else 0, "count")
    m["streaming.spark_jobs_per_batch"] = (
        jobs["streaming"] / stream["batches"] if stream["batches"] else 0.0, "count")
    for g in wl.LAYER_GROUPS:
        per = n_traced if g != "streaming" else 1
        m[f"{g}.cpu_s"] = (figs[g]["cpu_s"] / per, "s")
        m[f"{g}.shuffle_bytes"] = (figs[g]["shuffle_bytes"] / per, "bytes")
        m[f"{g}.spill_bytes"] = (figs[g]["spill_bytes"] / per, "bytes")
        m[f"{g}.tasks"] = (figs[g]["tasks"] / per, "count")
    m["trace.overhead_frac"] = (
        med([r["s"] for r in traced]) / med([r["s"] for r in plain]) - 1
        if traced and plain else 0.0, "ratio")
    m["trace.rest_fetch_s"] = (rest_s, "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    ctx["streaming_probe"] = {k: stream[k] for k in ("batches", "errors", "bases")}
    ctx["dist_cc_probe"] = dist
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, ok


def check_names(result: dict, spec: dict, trace: bool) -> list[str]:
    """Differences between the metrics a run emitted and BENCHMARK.json."""
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    errs = [f"missing {n}" for n in want if n not in got]
    errs += [f"unexpected {n}" for n in got if n not in want]
    errs += [f"{n}: unit {got[n]} != {u}" for n, u in want.items() if n in got and got[n] != u]
    errs += [f"{n}: not a number" for n, v in result["metrics"].items()
             if not isinstance(v.get("value"), (int, float))]
    return errs


def smoke() -> int:
    """Every workload, both modes, tiny inputs, one session."""
    import workloads as wl

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(WORK_ROOT, f"smoke-{os.getpid()}")
    prepare_env(work)
    spark = build_session(work)
    failures = []
    try:
        for workload in wl.WORKLOADS:
            for trace in (False, True):
                result, _ctx = run_workload(workload, 1, 1.0, trace, size="tiny", spark=spark)
                errs = check_names(result, spec, trace)
                if not result["correct"]:
                    errs.append("output check failed")
                log(f"smoke {workload} trace={int(trace)}: {errs or 'ok'}")
                failures += [f"{workload}/{int(trace)}: {e}" for e in errs]
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"smoke": "fail" if failures else "ok", "errors": failures}))
    return 1 if failures else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["kg_build", "curate_dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload and mode; checks metric names")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import canonicity_spark  # noqa: F401
    except ImportError as exc:
        log(f"the canonicity_spark package must sit next to perfbench/: {exc}")
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    result, ctx = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
