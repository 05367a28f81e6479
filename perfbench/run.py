#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <query_mix|landuse_pipeline>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. It builds the engine and the harness
from source when they changed (sbt; the stamp lives in .bench_build),
takes the workload's inputs from the seed, launches the engine's JVM
directly (the compiled classpath and the build's --add-opens), checks
every output outside the timed region, prints one
`metric <name> <value> <unit>` line per metric and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
runs the workload traced and reports its per-layer metrics; it writes
the spans to .bench_build/spans/ and reports the tracing overhead as the
traced work_s over the untraced one of the same seed and build (taken
from the untraced run's record, or measured first when there is none).
Every run also leaves a JSON record in .bench_build/records/.
Each workload is a fixed amount of work, one pass, whatever --seconds
says; a pass takes longer than BENCHMARK.json's run_seconds.
--smoke shrinks each workload to a few seconds, for the benchmark's tests.
Exits 1 when a check fails, 2 when the benchmark cannot run at all; a
run that fails keeps its work directory under .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
BUILD = ROOT / ".bench_build"
HEAP = "2g"

# query_mix reads the repository's test fixture at scale 0.01 (0.001 in
# smoke mode), copied under data/: the run's seed sets the query order,
# not the data.
MIX_DATA, SMOKE_MIX_DATA = BENCH / "data" / "sf0.01", BENCH / "data" / "sf0.001"
# landuse_pipeline: a 2x2 grid of 256-cell tiles (the reference default),
# so the pyramid has one zoom-0 parent; focal radius 3.
LANDUSE_GRID, LANDUSE_TILE, LANDUSE_RADIUS = 2, 256, 3

sys.path.insert(0, str(BENCH))
import checks  # noqa: E402
import gen  # noqa: E402


def die(msg):
    """The benchmark cannot run: exit 2, print no result."""
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    p = ROOT / "BENCHMARK.json"
    if not p.is_file():
        die("BENCHMARK.json not found (run from the root of a checkout)")
    return json.loads(p.read_text())


# ---------------------------------------------------------------- build

def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in (ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"):
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts
                      and p.suffix in (".scala", ".java", ".sbt", ".properties")]
    return sorted(files)


def build():
    """Compiles the engine and the harness when their sources changed.
    Returns (source digest, java arguments the build exported)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources under {ROOT} (run from the root of a checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the engine")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp, launch = BUILD / "build.stamp", BENCH / "target" / "launch.txt"
    BUILD.mkdir(exist_ok=True)
    if not (stamp.exists() and stamp.read_text() == digest.hexdigest() and launch.exists()):
        with open(BUILD / "build.log", "w") as log:
            r = subprocess.run(["sbt", "-batch", "launcher"], cwd=BENCH, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=870)
        if r.returncode != 0 or not launch.exists():
            die(f"build failed, see {BUILD / 'build.log'}")
        stamp.write_text(digest.hexdigest())
    return digest.hexdigest()[:12], launch.read_text().split("\n")[:-1]


def java_cmd(launch, work, workload, a, opts):
    """The engine's JVM, launched directly. The build's heap setting is
    replaced by a smaller, fixed one (no heap resizing to move the memory
    figures); temp files stay inside the run's dir and no perf-data file
    is written outside it."""
    flags = [f for f in launch if not f.startswith("-Xmx")]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"] + flags +
            ["perfbench.Main", workload, str(work), str(a.trace)] + [f"{k}={v}" for k, v in opts.items()])


def run_jvm(cmd, work, env):
    with open(work / "jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           env={**os.environ, **env}, timeout=170)
    return jvm_result(r.returncode, work)


def jvm_result(code, work):
    out = work / "jvm.json"
    if code != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        die(f"engine JVM exited with {code}:\n{tail}")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- workloads
#
# Each returns (jvm record, attempted, failures {operation: why}, end-to-end
# values, per-layer values, the workload's own figures printed as info).
# An operation that fails stays out of the latency samples.

def mix_queries():
    lines = (BENCH / "query_mix.txt").read_text().splitlines()
    return [ln.split("#")[0].strip() for ln in lines if ln.split("#")[0].strip()]


def query_mix(a, launch, work):
    data = SMOKE_MIX_DATA if a.smoke else MIX_DATA
    names = mix_queries()
    if a.smoke:
        names = [n for i, n in enumerate(names) if i % 10 == 0]
    random.Random(a.seed).shuffle(names)
    (work / "queries.txt").write_text("\n".join(names) + "\n")
    jvm = run_jvm(java_cmd(launch, work, "query_mix", a, {"data": data, "queries": work / "queries.txt"}), work, {})
    qs = jvm["queries"]
    verdicts = checks.query_results(data, work / "results", work / "oracle_sql.json",
                                    [q["name"] for q in qs if q["ok"]], a.corrupt)
    good = [q for q in qs if q["ok"] and verdicts[q["name"]] == "OK"]
    bad = {q["name"]: q["error"] or verdicts[q["name"]] for q in qs if q not in good}
    lat_ms = [q["wall_ms"] for q in good]
    wall = sum(q["wall_ms"] for q in qs) / 1000.0
    e2e = {"setup_s": jvm["ready_s"] + jvm["warmup_s"], "work_s": wall,
           "op_mid_ms": mid_mean(lat_ms), "op_tail_ms": tail_mean(lat_ms)}
    layers = dict(jvm["layers"])
    if layers:
        for fam in "acmqrstx":
            layers[f"family.{fam}.wall_s"] = sum(q["wall_ms"] for q in good if q["name"].startswith(fam + "_")) / 1000.0
    info = {"mix_wall_s": wall, "query_p50_s": pct(lat_ms, 50) / 1000.0, "query_p75_s": pct(lat_ms, 75) / 1000.0,
            "queries": len(qs), "peak_rss_mb": jvm["peak_rss_mb"],
            "ops_ms": {q["name"]: q["wall_ms"] for q in qs}}
    return jvm, len(qs), bad, e2e, layers, info


def landuse_pipeline(a, launch, work):
    grid, tile = LANDUSE_GRID, (32 if a.smoke else LANDUSE_TILE)
    t0 = time.monotonic()
    inputs = work / "inputs"
    nir, red = gen.bands(inputs, a.seed, grid, tile)
    (inputs / "patch").mkdir()
    keys, merged = gen.patch(inputs / "patch", a.seed, grid, tile)
    gen_s = time.monotonic() - t0
    jvm = run_jvm(java_cmd(launch, work, "landuse_pipeline", a, {"inputs": inputs, "radius": LANDUSE_RADIUS}),
                  work, {"GRAFT_TILE_SIZE": str(tile)})
    done = jvm["pass"]
    bad = checks.landuse(work, jvm, nir, red, tile, LANDUSE_RADIUS, keys, merged, a.corrupt)
    steps_ms = [ms for step, ms in done["steps_ms"].items() if step not in bad]
    attempted = len(done["steps_ms"])
    e2e = {"setup_s": jvm["ready_s"] + jvm["warmup_s"], "work_s": done["pipeline_s"],
           "op_mid_ms": mid_mean(steps_ms), "op_tail_ms": tail_mean(steps_ms)}
    stored = done["live_bytes"] / (nir.nbytes + red.nbytes)  # raw input: 8 bytes a cell a band
    layers = dict(jvm["layers"])
    if layers:
        attempted += layers.pop("serve.requests")
        bad.update({f"serve #{i}": why for i, why in enumerate(layers.pop("serve.failures"))})
        for step in ("ingest", "ndvi", "focal", "pyramid", "export"):
            layers[f"ops.{step}_ms"] = done["steps_ms"][step]
        s = done["streaming"]
        layers.update({
            "catalog.merge_ms": s["add_batch_ms"],
            "catalog.files_written": done["files_written"], "catalog.bytes_written": done["bytes_written"],
            "catalog.write_amp": done["bytes_written"] / done["live_bytes"],
            "catalog.live_files": done["live_files"], "catalog.stored_bytes_per_input_byte": stored,
            "streaming.batches": s["batches"], "streaming.batch_ms": s["batch_ms"],
            "streaming.state_rows": s["state_rows"], "streaming.state_bytes": s["state_bytes"],
            "streaming.update_visible_s": done["update_visible_s"]})
    info = {"pipeline_s": done["pipeline_s"], "step_p50_ms": pct(steps_ms, 50),
            "update_visible_s": done["update_visible_s"], "stored_bytes_per_input_byte": stored,
            "gen_s": gen_s, "peak_rss_mb": jvm["peak_rss_mb"], "ops_ms": done["steps_ms"]}
    return jvm, attempted, bad, e2e, layers, info


WORKLOADS = {"query_mix": query_mix, "landuse_pipeline": landuse_pipeline}


# ---------------------------------------------------------------- metrics

# Over tens of samples or fewer, one order statistic (a median, a p90)
# jumps between clusters of fast and slow operations from run to run;
# a mean over a quarter or a half of the sorted samples moves with them.

def mid_mean(xs):
    """Mean of the middle half of the sorted samples (interquartile mean);
    0 when there are none (every operation failed)."""
    s = sorted(xs)
    if not s:
        return 0.0
    return statistics.mean(s[len(s) // 4:len(s) - len(s) // 4])


def tail_mean(xs):
    """Mean of the slowest quarter of the samples (at least one); 0 when
    there are none."""
    s = sorted(xs)
    if not s:
        return 0.0
    quarter = -(-len(s) // 4)
    return statistics.mean(s[len(s) - quarter:])


def pct(xs, q):
    """Nearest-rank percentile; 0 when there are no samples."""
    s = sorted(xs)
    if not s:
        return 0.0
    return s[min(len(s) - 1, max(0, -(-q * len(s) // 100) - 1))]


def self_times(spans):
    """Self time per layer, in ms: each span's duration minus the part of
    it that its children cover. A span recorded without a parent (listener
    events) is the child of the shortest span that encloses it in time,
    within the same request when both name one."""
    spans = sorted(spans, key=lambda s: (s["start_us"], -s["end_us"]))
    by_id = {s["id"]: s for s in spans}
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None:
            dur = s["end_us"] - s["start_us"]
            p = min((o for o in spans if o is not s and o["start_us"] <= s["start_us"]
                     and s["end_us"] <= o["end_us"] and o["end_us"] - o["start_us"] > dur
                     and (not s["req"] or not o["req"] or o["req"] == s["req"])),
                    key=lambda o: o["end_us"] - o["start_us"], default=None)
        if p is not None:
            kids[p["id"]].append(s)
    out = {}
    for s in spans:
        covered, cur = 0, s["start_us"]
        for k in sorted(kids[s["id"]], key=lambda k: k["start_us"]):
            lo, hi = max(k["start_us"], cur), min(k["end_us"], s["end_us"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_us"] - s["start_us"] - covered) / 1000.0
    return out


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def untraced_work_s(a, digest):
    """work_s of an untraced run of this workload, seed and build, if one
    was recorded; the traced run's overhead is measured against it."""
    best = None
    for f in sorted((BUILD / "records").glob(f"{a.workload}-s{a.seed}-t0-*.json")):
        r = json.loads(f.read_text())
        if r["sources_sha256"] == digest and r["smoke"] == a.smoke and not r["failed"]:
            best = r["metrics"]["work_s"]["value"]
    return best


def run_once(a, launch, trace):
    """Runs the workload once; its work directory is removed unless the
    run failed."""
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    b = argparse.Namespace(**{**vars(a), "trace": trace})
    passed = False
    try:
        out = WORKLOADS[a.workload](b, launch, work)
        spans = json.loads((work / "spans.json").read_text()) if trace else []
        passed = not out[2]
    finally:
        if passed:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"perfbench: the failed run's files are in {work}", file=sys.stderr)
    return out + (spans,)


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark interface; each workload runs one fixed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected value, to prove the checks fail (tests only)")
    a = ap.parse_args()
    bench = spec()
    digest, launch = build()

    if a.trace:
        base, untraced_attempted, untraced_bad = untraced_work_s(a, digest), 0, {}
        if base is None:
            _, untraced_attempted, untraced_bad, e2e, _, _, _ = run_once(a, launch, 0)
            base = e2e["work_s"]
        jvm, attempted, bad, te2e, layers, info, spans = run_once(a, launch, 1)
        attempted += untraced_attempted
        bad.update({f"untraced {k}": v for k, v in untraced_bad.items()})
        layers.update({"trace.overhead_pct": 100.0 * (te2e["work_s"] - base) / base,
                       "trace.spans": len(spans), "jvm.gc_ms": jvm["jvm_gc_ms"],
                       "jvm.heap_peak_mb": jvm["jvm_heap_peak_mb"]})
        layers.update({f"self.{k}_ms": v for k, v in self_times(spans).items()})
        out = BUILD / "spans" / f"{a.workload}-s{a.seed}.json"
        out.parent.mkdir(exist_ok=True)
        out.write_text(json.dumps(spans))
        print(f"spans: {out.relative_to(ROOT)} ({len(spans)} spans)")
        # a layer this workload does not exercise reads 0
        values = {m["name"]: layers.get(m["name"], 0) for m in bench["per_layer"]}
        wanted = bench["per_layer"]
    else:
        jvm, attempted, bad, values, _, info, _ = run_once(a, launch, 0)
        values["ok_ratio"] = (attempted - len(bad)) / attempted
        values["retained_heap_mb"] = jvm["retained_heap_mb"]
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for k, v in info.items():
        if k != "ops_ms":
            print(f"info {k} {v}")
    for k, why in sorted(bad.items()):
        print(f"FAIL {k}: {str(why)[:300]}")
    for k, m in metrics.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    record = {"workload": a.workload, "seed": a.seed, "cpus": jvm["cpus"], "trace": a.trace, "smoke": a.smoke,
              "revision": revision(), "sources_sha256": digest, "jvm": jvm["java_version"],
              "spark": jvm["spark_version"], "python": platform.python_version(),
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "attempted": attempted, "failed": len(bad), "failures": bad, "info": info, "metrics": metrics}
    rec = BUILD / "records" / f"{a.workload}-s{a.seed}-t{a.trace}-{time.time_ns()}.json"
    rec.parent.mkdir(exist_ok=True)
    rec.write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad), "metrics": metrics}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
