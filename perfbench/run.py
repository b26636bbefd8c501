"""Pipeline benchmark for graft: one command, three seeded workloads.

    python3 perfbench/run.py --workload elt_star --seed 1 --seconds 5 --trace 0

Builds graft from the checkout (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), runs the workload closed-loop from one client
thread at local[nproc] (perfbench/src/graft/perfbench/Runner.scala),
checks every output, and prints each metric by name with its unit. The
last line of standard output is one JSON object: with `--trace 0` it
carries the end-to-end metrics, with `--trace 1` the per-layer ones.

`--baseline FILE` compares against an earlier result file and refuses
when the environment stamp differs. Every result is kept in
`.perfbench/results/`.
"""

import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
STATE = build.STATE

# warm-up iterations before timing starts: one is all a run has room
# for (README.md, "JIT and warm-up" and "Time budget")
WARMUPS = 1
JVM_TIMEOUT_S = 165

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("stored_bytes_ratio", "ratio"),
              ("heap_peak_mb", "MB")]


def cores_and_heap():
    """Cores from the CPU affinity mask (what `nproc` reports) and the heap
    as half of MemTotal, clamped to 2..8 GiB, as the tier-1 runner does."""
    cores = len(os.sched_getaffinity(0))
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, f"{gib}g"


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_times():
    """Aggregate CPU tick counters: (total, steal)."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7] if len(ticks) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def run_jvm(classes, workload, inputs, warm_inputs, work, seconds, trace, cores, heap, out, log):
    jars = os.path.join(build.spark_jars(), "*")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # the JVM options of build.sbt, with the heap derived from the machine
    cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Runner",
            workload, inputs, warm_inputs, work, str(seconds), str(trace), str(WARMUPS),
            str(cores), out])
    spawn_ms = time.time() * 1000
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return spawn_ms, code


def check_elt(res, inputs, work):
    """Each ELT step's written output equals its DuckDB oracle on the
    generated input as a multiset of rows: the two sides have the same
    column names, and the same row count and sum of 64-bit row hashes once
    the written columns are cast to the oracle's types."""
    import duckdb
    last = max(it["index"] for it in res["iterations"])
    out_dir = os.path.join(work, f"it{last}", "elt")
    con = duckdb.connect()
    for t in ("events", "orders", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(inputs, t + '.parquet')}')")
    bad = []
    for name, sql in res["extra"]["oracle"].items():
        got = f"read_parquet('{os.path.join(out_dir, name)}/*.parquet')"
        try:
            want_types = {r[0]: r[1] for r in con.sql(f"DESCRIBE ({sql})").fetchall()}
            got_cols = sorted(r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {got}").fetchall())
            if sorted(want_types) != got_cols:
                bad.append(f"{name}: columns {got_cols} != oracle {sorted(want_types)}")
                continue
            cols = sorted(want_types)
            plain = ", ".join(f'"{c}"' for c in cols)
            cast = ", ".join(f'CAST("{c}" AS {want_types[c]})' for c in cols)
            want_n, want_h = con.sql(f"SELECT count(*), sum(hash({plain})::HUGEINT) FROM ({sql})").fetchone()
            got_n, got_h = con.sql(f"SELECT count(*), sum(hash({cast})::HUGEINT) FROM {got}").fetchone()
        except duckdb.Error as e:
            bad.append(f"{name}: not comparable: {str(e).splitlines()[0]}")
            continue
        if got_n != want_n:
            bad.append(f"{name}: {got_n} rows, oracle {want_n}")
        elif got_h != want_h:
            bad.append(f"{name}: the rows differ from the oracle's ({got_n} rows each)")
    return bad


def recall(res, inputs):
    """Share of the exact cosine top-K that the last serve returned."""
    import numpy as np
    import pyarrow.parquet as pq
    served = res["extra"]["served"]
    t = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
    ids = np.array(t.column("vec_id").to_pylist())
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    by_q = collections.defaultdict(set)
    for q, n, _ in served:
        by_q[q].add(n)
    if not by_q:
        return 0.0, 0
    k = max(len(v) for v in by_q.values())
    hits = 0
    for q, got in by_q.items():
        sims = emb @ emb[pos[q]]
        exact = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
        hits += len(exact & got)
    return hits / (k * len(by_q)), len(by_q)


def timed(res):
    return [it for it in res["iterations"] if not it["warm"]]


def wall(step):
    return (step["end"] - step["start"]) / 1000.0


def step_walls(res, prefix):
    return [wall(s) for it in timed(res) for s in it["steps"] if s["name"].startswith(prefix)]


def dist(values):
    """Median and supported tail of a latency sample in seconds, with its count."""
    p, v, n = stats.tail(values)
    return {"median": statistics.median(values) if values else None, "tail": v,
            "tail_pct": p, "n": n, "unit": "s"}


def end_to_end(res, workload, input_bytes, spawn_ms):
    its = timed(res)
    iter_walls = [sum(wall(s) for s in it["steps"]) for it in its]
    m = {
        "setup_s": (res["warm_ms"] - spawn_ms) / 1000.0,
        "wall_s": statistics.median(iter_walls),
        "stored_bytes_ratio": statistics.median([it["artifact_b"] for it in its]) / input_bytes,
        "heap_peak_mb": res["heap_peak_b"] / 2 ** 20,
    }
    detail = {"iterations": len(its), "iteration_walls_s": iter_walls,
              "warmup_walls_s": [sum(wall(s) for s in it["steps"]) for it in res["iterations"] if it["warm"]]}
    if workload == "corpus_refresh":
        detail["upsert_s"] = dist(step_walls(res, "corpus_upsert"))
    if workload == "index_serve":
        detail["upsert_s"] = dist(step_walls(res, "ivfpq_upsert"))
        detail["serve_s"] = dist(step_walls(res, "ivfpq_serve"))
    return m, detail


LAYER_UNITS = {
    "operators.driver_s": "s", "scheduler.gap_s": "s", "execution.stage_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.queries": "count", "aqe.replans": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.skipped_stages": "count",
    "execution.task_s": "s", "execution.cpu_s": "s", "execution.gc_s": "s", "execution.util": "ratio",
    "execution.shuffle_read_b": "B", "execution.shuffle_write_b": "B", "execution.spill_b": "B",
    "sources.input_b": "B", "sources.input_rows": "count", "sources.output_b": "B",
    "sources.output_rows": "count", "sources.files_out": "count",
    "plans.checkpoints": "count", "plans.checkpoint_b": "B",
    "publish.bytes_on_disk": "B", "publish.files": "count",
}


def step_layers(step, cores):
    """Per-layer metrics of one step from its recorded events."""
    tr = step["trace"]
    jobs = [(j["start"], j["end"]) for j in tr["jobs"]]
    stages = [(s["submit"], s["complete"]) for s in tr["stages"] if s["submit"] > 0]
    part = stats.partition(step["start"], step["end"], jobs, stages)
    submitted = {s["id"] for s in tr["stages"]}
    listed = {sid for j in tr["jobs"] for sid in j["stage_ids"]}
    st = tr["stages"]
    task_s = sum(s["task_ms"] for s in st) / 1000.0
    stage_s = part["stage"] / 1000.0
    layers = {
        "operators.driver_s": part["driver"] / 1000.0,
        "scheduler.gap_s": part["gap"] / 1000.0,
        "execution.stage_s": stage_s,
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in tr["queries"]) / 1000.0,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in tr["queries"]) / 1000.0,
        "catalyst.planning_s": sum(q["planning_ms"] for q in tr["queries"]) / 1000.0,
        "catalyst.queries": len(tr["queries"]),
        "aqe.replans": tr["aqe_updates"],
        "scheduler.jobs": len(tr["jobs"]),
        "scheduler.stages": len(st),
        "scheduler.tasks": sum(s["tasks"] for s in st),
        "scheduler.skipped_stages": len(listed - submitted),
        "execution.task_s": task_s,
        "execution.cpu_s": sum(s.get("cpu_ns", 0) for s in st) / 1e9,
        "execution.gc_s": sum(s.get("gc_ms", 0) for s in st) / 1000.0,
        "execution.util": task_s / (stage_s * cores) if stage_s > 0 else 0.0,
        "plans.checkpoints": tr["checkpoints"],
        "plans.checkpoint_b": tr["checkpoint_b"],
        "publish.bytes_on_disk": step["publish_b"],
        "publish.files": step["publish_files"],
        "sources.files_out": step["files_out"],
    }
    for key in ("shuffle_read_b", "shuffle_write_b", "spill_b"):
        layers[f"execution.{key}"] = sum(s.get(key, 0) for s in st)
    for key in ("input_b", "input_rows", "output_b", "output_rows"):
        layers[f"sources.{key}"] = sum(s.get(key, 0) for s in st)
    wall_ms = step["end"] - step["start"]
    residual = wall_ms - (part["driver"] + part["gap"] + part["stage"])
    return layers, residual / 1000.0, part["outside"] / 1000.0


def per_layer(res, cores):
    """Per-iteration sums of every layer (the median over the timed
    iterations), the per-step split, span self times, the partition
    residuals, and the steps whose job or stage time fell partly outside
    their window, with that time."""
    its = timed(res)
    per_iter = []
    per_step = collections.defaultdict(lambda: collections.defaultdict(list))
    residuals = []
    outside = {}
    selfs = collections.defaultdict(list)
    for it in its:
        total = collections.defaultdict(float)
        step_iv = []
        for s in it["steps"]:
            layers, resid, out = step_layers(s, cores)
            residuals.append(resid)
            if out > 0:
                outside[f"it{it['index']}/{s['name']}"] = out
            per_step[s["name"]]["wall_s"].append(wall(s))
            for k, v in layers.items():
                per_step[s["name"]][k].append(v)
                if k.startswith("publish."):
                    total[k] = v  # the artifact as the iteration leaves it
                elif k != "execution.util":
                    total[k] += v
            step_iv.append((s["start"], s["end"]))
            # self time of each span level: step -> job -> stage
            jobs = [(j["start"], j["end"]) for j in s["trace"]["jobs"]]
            stages = [(x["submit"], x["complete"]) for x in s["trace"]["stages"] if x["submit"] > 0]
            selfs["step"].append(stats.self_time((s["start"], s["end"]), jobs + stages) / 1000.0)
            for j in s["trace"]["jobs"]:
                jst = [(x["submit"], x["complete"]) for x in s["trace"]["stages"]
                       if x["id"] in j["stage_ids"] and x["submit"] > 0]
                selfs["job"].append(stats.self_time((j["start"], j["end"]), jst) / 1000.0)
            selfs["stage"].extend((b - a) / 1000.0 for a, b in stages)
        selfs["iteration"].append(stats.self_time((it["start"], it["end"]), step_iv) / 1000.0)
        stage_s = total["execution.stage_s"]
        total["execution.util"] = total["execution.task_s"] / (stage_s * cores) if stage_s else 0.0
        per_iter.append(total)
    metrics = {k: statistics.median([t[k] for t in per_iter]) for k in LAYER_UNITS}
    split = {name: {k: statistics.median(v) for k, v in layers.items()} for name, layers in per_step.items()}
    self_time = {k: sum(v) / len(its) for k, v in selfs.items()}
    return metrics, split, self_time, residuals, outside


def stamp(res, seed, cores, heap):
    env = dict(res["env"])
    env.update({"nproc": cores, "xmx": heap, "seed": seed, "git_sha": git_sha()})
    return env


STAMP_KEYS = ("nproc", "xmx", "gc", "jvm_args", "spark", "scala", "jdk", "master", "cores")


def compare(baseline_path, result):
    with open(baseline_path) as f:
        base = json.load(f)
    diff = {k: (base["env"].get(k), result["env"].get(k)) for k in STAMP_KEYS
            if base["env"].get(k) != result["env"].get(k)}
    if diff:
        sys.stderr.write(f"refusing to compare: environment stamp differs: {diff}\n")
        return False
    if base["workload"] != result["workload"] or base["trace"] != result["trace"]:
        sys.stderr.write("refusing to compare: different workload or trace mode\n")
        return False
    for k, v in result["metrics"].items():
        b = base["metrics"].get(k, {}).get("value")
        if b:
            print(f"compare {k}: {b:.6g} -> {v['value']:.6g} ({(v['value'] - b) / b:+.1%})")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline", help="earlier result file to compare against")
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    inputs = os.path.join(STATE, "inputs", f"{a.workload}-s{a.seed}-{gen.shape_key()}")
    t0 = time.monotonic()
    gen_info = gen.generate(a.workload, a.seed, inputs)
    gen_s = time.monotonic() - t0
    # the batch assignment is the benchmark's own schedule, not input data
    input_bytes = sum(t["bytes"] for name, t in gen_info["tables"].items() if name != "batches")

    cores, heap = cores_and_heap()
    work = os.path.join(STATE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(STATE, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cpu0 = cpu_times()
    warm_inputs = os.path.join(inputs, "warmup") if "warmup_tables" in gen_info else inputs
    t_jvm = time.monotonic()
    spawn_ms, code = run_jvm(classes, a.workload, inputs, warm_inputs, work, a.seconds, a.trace,
                             cores, heap, out, log)
    jvm_s = time.monotonic() - t_jvm
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: runner exited with {code}; see {log}")
    cpu1 = cpu_times()
    with open(out) as f:
        res = json.load(f)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    shutil.copy(out, os.path.join(STATE, "results", f"{a.workload}-s{a.seed}-t{a.trace}.raw.json"))

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    detail = {}
    t0 = time.monotonic()
    if a.workload == "elt_star":
        bad = check_elt(res, inputs, work)
        attempted += len(res["extra"]["oracle"])
        failed += len(bad)
        failures += [f"oracle: {b}" for b in bad]
    if a.workload == "index_serve":
        detail["recall"], detail["recall_queries"] = recall(res, inputs)
    shutil.rmtree(work, ignore_errors=True)
    detail["check_s"] = time.monotonic() - t0
    detail["jvm_s"] = jvm_s

    e2e, e2e_detail = end_to_end(res, a.workload, input_bytes, spawn_ms)
    detail.update(e2e_detail)
    detail["failed_ratio"] = failed / attempted
    detail["failures"] = failures
    detail["gen_s"] = gen_s
    # CPU time the hypervisor gave to other guests while the run went on
    detail["cpu_steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    detail["inputs"] = gen_info
    units = dict(END_TO_END)
    if a.trace:
        layers, split, self_time, residuals, outside = per_layer(res, cores)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        detail.update({"per_step": split, "self_time_s": self_time,
                       "partition_residual_max_s": max(abs(r) for r in residuals),
                       "outside_step_s": outside})
        untraced = os.path.join(STATE, "results", f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                detail["trace_overhead_s"] = e2e["wall_s"] - json.load(f)["metrics"]["wall_s"]["value"]
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    result = {"workload": a.workload, "trace": a.trace,
              "env": stamp(res, a.seed, cores, heap) | {"tree": os.path.basename(os.path.dirname(classes))},
              "metrics": metrics, "detail": detail}
    with open(os.path.join(STATE, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    for name, m in detail.get("per_step", {}).items():
        d, g, st = m["operators.driver_s"], m["scheduler.gap_s"], m["execution.stage_s"]
        print(f"{a.workload} step {name}: wall {m['wall_s']:.3f} s, driver {d:.3f} + gap {g:.3f} "
              f"+ stage {st:.3f} = {d + g + st:.3f} s (medians over iterations)")
    if "partition_residual_max_s" in detail:
        print(f"{a.workload} largest |wall - (driver + gap + stage)| over all steps = "
              f"{detail['partition_residual_max_s']:.3g} s")
        worst = max(detail["outside_step_s"].items(), key=lambda kv: kv[1], default=(None, 0.0))
        print(f"{a.workload} job/stage time outside its step window: {worst[1]:.3g} s at most"
              + (f" ({worst[0]}; {len(detail['outside_step_s'])} steps flagged)" if worst[0] else
                 " (no step flagged)"))
    for k in ("upsert_s", "serve_s"):
        if k in detail:
            d = detail[k]
            print(f"{a.workload} {k} = {d['median']:.4g} s (median, n={d['n']})")
            tail = (f"{d['tail']:.4g} s (p{d['tail_pct']:.0f}, ten samples above)" if d["tail"] is not None
                    else f"none supported (n={d['n']}, needs 11)")
            print(f"{a.workload} {k}_tail = {tail}")
    if "recall" in detail:
        print(f"{a.workload} recall = {detail['recall']:.4f} (top-K, {detail['recall_queries']} queries)")
    if "trace_overhead_s" in detail:
        print(f"{a.workload} tracing overhead = {detail['trace_overhead_s']:+.3f} s "
              f"(traced wall_s - untraced wall_s, seed {a.seed})")
    print(f"{a.workload} failed_ratio = {detail['failed_ratio']:.4g} ({failed}/{attempted})")
    for r in failures:
        print(f"{a.workload} FAILED {r}")
    if a.baseline and not compare(a.baseline, result):
        sys.exit(3)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
