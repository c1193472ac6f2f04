"""graft benchmark: one command per run.

    python3 perfbench/run.py --workload crawl_bulk --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), runs one workload in
one JVM with Spark local[nproc], checks its outputs and prints, as the
last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones. The line before it carries the informational fields
(host canaries, fail ratio, sample counts); the full report and, when
traced, the spans go to .bench_build/perfbench/out/. See
perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = build.BUILD / "out"
WORKLOADS = ("crawl_deep", "catalog")
# a run must end within 180 s once built
JVM_TIMEOUT_S = 172
MB = 1048576.0

FAMILIES = ("aggregations", "joins", "scheduling", "crawl_scalar", "text", "dedup",
            "linkgraph", "similarity", "multimodal")
HEAVY_QUERIES = (
    "q_dup_clusters", "q_dup_span_scrub", "q_lm_familiarity", "q_containment_pairs",
    "q_semdedup", "q_ann_lsh", "q_stream_dedup", "q_ann_ivf", "q_contam_frac",
    "q_top_terms", "q_minhash_dedup", "q_cosine_dup_pairs", "q_repetition_profile",
    "q_components", "q_minhash_pairs", "q_simhash_pairs", "q_bm25_rank", "q_pagerank",
    "q_dsir_weights", "q_multiway_join_case", "q_token_budget", "q_ngram_jaccard")
SPARK_FAMILIES = ("wave", "export", "query")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb",
                "plan_s", "idle_core_share", "task_skew")
COMMIT_PHASES = ("adopt-processed", "adopt-frontier", "compact", "stage-misses-join")


def load_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_jvm(classpath, workload, seed, seconds, trace):
    work = build.BUILD / "work" / workload
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    OUT.mkdir(parents=True, exist_ok=True)
    raw = OUT / f"{workload}-{seed}-{'trace' if trace else 'timed'}.raw.json"
    raw.unlink(missing_ok=True)
    share = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if build.ARCHIVE.exists() else []
    cmd = [build.java(), *build.jvm_local(work), *share, "-Xss8m", "-Xms3g", "-Xmx3g",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(map(str, classpath)), "graft.perfbench.Main",
           workload, str(seed), str(seconds), "1" if trace else "0",
           str(work), str(HERE / "data" / "sf0.01"), str(raw)]
    # the JVM's own output (Spark logs) goes to stderr: stdout's last
    # line is reserved for the result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not raw.exists():
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    return json.loads(raw.read_text())


# ---------- correctness ----------

def check(rec, expected):
    """Returns (attempted, [failure messages])."""
    fails = list(rec["failures"])
    passes = rec["passes"]
    attempted = sum(len(p["ops"]) for p in passes) + len(rec["failures"])
    wl = rec["workload"]

    def expect(cond, msg):
        nonlocal attempted
        attempted += 1
        if not cond:
            fails.append(msg)

    expect(len(passes) > 0, "no pass completed")
    bulk = rec.get("bulk") or {}
    if bulk:
        expect(bulk["c1"]["checks"] == bulk["cN"]["checks"],
               "bulk crawl outputs differ between local[1] and local[N]")
    if wl == "catalog":
        want = expected["catalog"]["rows"]
        for p in passes:
            got = p["checks"]["rows"]
            expect(got == ({n: want.get(n) for n in got} if p["reference"] else want),
                   "catalog row counts differ from perfbench/expected.json")
    else:
        first = passes[0]["checks"] if passes else {}
        for p in passes[1:]:
            expect(p["checks"] == first, "crawl outputs differ between passes of one run")
        if first:
            for w, c in enumerate(first["wave_counts"], 1):
                sched, fetched, failed, deferred, _ = c
                expect(sched == fetched + failed + deferred,
                       f"wave {w}: scheduled != fetched + failed + deferred")
            expect(sum(c[1] for c in first["wave_counts"]) > 0, "crawl fetched no pages")
            if wl == "crawl_deep":
                expect(first["max_host_pops_per_wave"] <= expected["crawl_deep_budget"],
                       "a host was popped beyond its per-wave budget")
            want = expected["crawls"].get(f"{wl}:{rec['seed']}")
            if want is not None:
                got = {k: first[k] for k in ("order_digest", "seen_digest", "wave_counts")}
                expect(got == want, f"crawl outputs differ from perfbench/expected.json "
                                    f"for seed {rec['seed']}")
    if rec["traced"]:
        jobs = {t: [p["jobs"] for p in passes if p["traced"] == t and p["reference"]]
                for t in (False, True)}
        if jobs[False] and jobs[True]:
            expect(set(jobs[False]) == set(jobs[True]),
                   f"tracing changed the Spark job count: {jobs}")
    return attempted, fails


# ---------- end-to-end metrics ----------

def end_to_end(rec, traced=False):
    """The end-to-end metrics over a run's main passes (traced or not)."""
    timed = [p for p in rec["passes"] if p["traced"] == traced and not p["reference"]]
    ops = [s for p in timed for _, s in p["ops"]]
    tail_p, tail_v = stats.tail(ops)
    setup = rec["setup"]
    return {
        "setup_s": setup["session_s"] + stats.median(setup["input_s"]) + setup["warmup_s"],
        "pass_s": stats.median([p["wall_s"] for p in timed]),
        "throughput": stats.median([p["items"] / p["wall_s"] for p in timed]),
        "op_s_p50": stats.median(ops),
        "op_s_tail": tail_v,
        "heap_live_mb": stats.median([p["heap_live_mb"] for p in timed]),
    }, {"passes": len(timed), "ops": len(ops), "op_s_tail_percentile": tail_p,
        "heap_peak_mb": rec["heap_peak_mb"]}


# ---------- per-layer metrics ----------

def _pass_spans(spans):
    """Map each span id to the id of its enclosing pass span."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur["family"] != "pass" and cur["parent"] in by_id:
            cur = by_id[cur["parent"]]
        if cur["family"] == "pass":
            out[s["id"]] = cur["id"]
    return out


def _innermost(spans, t):
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def spark_families(rec, cores):
    """spark.<family>.* per traced pass, then the median over passes."""
    spans = rec["spans"]
    sp = rec["spark"]
    by_id = {s["id"]: s for s in spans}
    pass_of = _pass_spans(spans)
    pass_ids = sorted({v for v in pass_of.values() if not by_id[v]["reference"]})
    tasks_by_span = {}
    for t in sp["tasks"]:
        tasks_by_span.setdefault(t["span"], []).append(t)
    plans_by_span = {}
    for pl in sp["plans"]:
        s = _innermost(spans, pl["start"])
        if s is not None:
            plans_by_span.setdefault(s["id"], []).append(pl)

    per_pass = {f: [] for f in SPARK_FAMILIES}
    for pid in pass_ids:
        for f in SPARK_FAMILIES:
            members = [s for s in spans if s["family"] == f and pass_of.get(s["id"]) == pid]
            ids = {s["id"] for s in members}
            tasks = [t for i in ids for t in tasks_by_span.get(i, [])]
            durs = [t["finish"] - t["launch"] for t in tasks]
            per_pass[f].append({
                "jobs": sum(1 for s, _ in sp["jobs"] if s in ids),
                "stages": sum(1 for s, _ in sp["stages"] if s in ids),
                "tasks": len(tasks),
                "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
                "task_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
                "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
                "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
                "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
                "spill_mb": sum(t["spill"] for t in tasks) / MB,
                "peak_exec_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / MB,
                "plan_s": sum(pl["plan_ms"] for i in ids for pl in plans_by_span.get(i, [])) / 1e3,
                "idle_core_share": stats.idle_core_share(
                    [((s["start"], s["end"]),
                      [(t["launch"], t["finish"]) for t in tasks_by_span.get(s["id"], [])])
                     for s in members], cores) if members else 0.0,
                "task_skew": stats.skew(durs) if tasks else 0.0,
            })
    out = {}
    for f in SPARK_FAMILIES:
        for k in SPARK_FIELDS:
            vals = [d[k] for d in per_pass[f]]
            out[f"spark.{f}.{k}"] = stats.median(vals) if vals else 0.0
    return out


def per_layer(rec):
    cores = rec["cores"]
    traced = [p for p in rec["passes"] if p["traced"] and not p["reference"]]
    ref_traced = [p for p in rec["passes"] if p["traced"] and p["reference"]]
    ref_untraced = [p for p in rec["passes"] if not p["traced"] and p["reference"]]
    m = {}
    core = rec["core"]
    m["core.extract_us_per_page"] = core["extract_us_per_page"]
    m["core.canonicalize_us_per_url"] = core["canonicalize_us_per_url"]

    spans = rec["spans"]
    selfs = stats.self_times(spans)
    pass_of = _pass_spans(spans)

    crawl = rec["workload"] != "catalog"

    def med(f):
        vals = [f(p) for p in traced]
        return stats.median(vals) if vals else 0.0

    def phase(p, names):
        return sum(w.get(n, 0.0) for w in p["layers"]["phases"] for n in names)

    def init_s(p_index):
        inits = [s for s in spans if s["family"] == "init" and not s["reference"]]
        return inits[p_index]["end"] / 1e3 - inits[p_index]["start"] / 1e3 if p_index < len(inits) else 0.0

    def growth(p):
        w = [s for _, s in p["ops"]]
        q = max(1, len(w) // 4)
        return stats.median(w[-q:]) / stats.median(w[:q])

    if crawl:
        fe = med(lambda p: phase(p, ("fetch+extract+stage",)))
        pages = med(lambda p: p["layers"]["pages"])
        m.update({
            "crawl.fetch_extract_s": fe,
            "crawl.fetch_extract_eff": (pages * core["extract_us_per_page"] / 1e6) / (cores * fe) if fe > 0 else 0.0,
            "crawl.init_s": stats.median([init_s(i) for i in range(len(traced))]),
            "crawl.pop_s": med(lambda p: phase(p, ("pop+stage",))),
            "crawl.expand_s": med(lambda p: phase(p, ("expand+stage-new",))),
            "crawl.sketch_s": med(lambda p: phase(p, ("sketches",))),
            "crawl.commit_s": med(lambda p: phase(p, COMMIT_PHASES)),
            "crawl.wave_growth": med(growth),
            "crawl.pages": pages,
            "crawl.scheduled": med(lambda p: p["layers"]["scheduled"]),
            "crawl.new_urls": med(lambda p: p["layers"]["new_urls"]),
            "crawl.fetched_share": med(lambda p: p["layers"]["pages"] / p["layers"]["scheduled"]),
            "state.bytes": med(lambda p: p["layers"]["state_bytes"]),
            "state.files": med(lambda p: p["layers"]["state_files"]),
            "state.sketch_bytes": med(lambda p: p["layers"]["sketch_bytes"]),
            "state.bytes_per_page": med(lambda p: p["layers"]["state_bytes"] / p["layers"]["pages"]),
            "state.export_pages_s": med(lambda p: p["layers"]["export_pages_s"]),
            "state.export_order_s": med(lambda p: p["layers"]["export_order_s"]),
            "state.export_seen_s": med(lambda p: p["layers"]["export_seen_s"]),
            "state.export_s": med(lambda p: p["layers"]["export_pages_s"]
                                  + p["layers"]["export_order_s"] + p["layers"]["export_seen_s"]),
        })
    else:
        for k in ("fetch_extract_s", "fetch_extract_eff", "init_s", "pop_s", "expand_s",
                  "sketch_s", "commit_s", "wave_growth", "pages", "scheduled", "new_urls",
                  "fetched_share"):
            m[f"crawl.{k}"] = 0.0
        for k in ("bytes", "files", "sketch_bytes", "bytes_per_page", "export_pages_s",
                  "export_order_s", "export_seen_s", "export_s"):
            m[f"state.{k}"] = 0.0

    m.update(spark_families(rec, cores))

    families = rec.get("families", {})
    for f in FAMILIES:
        names = set(families.get(f, []))
        m[f"catalog.{f}_s"] = med(lambda p: sum(s for n, s in p["ops"] if n in names)) if not crawl else 0.0
    for q in HEAVY_QUERIES:
        m[f"query.{q}_s"] = med(lambda p: sum(s for n, s in p["ops"] if n == q)) if not crawl else 0.0

    # the overhead compares the reference pass traced with the same pass
    # untraced, both warm, and scales that share to the traced main pass
    share = stats.overhead_share([p["ops"] for p in ref_traced],
                                 [p["ops"] for p in ref_untraced])
    tr_wall = stats.median([p["wall_s"] for p in traced])
    m["trace.overhead_s"] = tr_wall - tr_wall / (1.0 + share)
    m["trace.overhead_share"] = share
    m["trace.extra_jobs"] = (stats.median([p["jobs"] for p in ref_traced])
                             - stats.median([p["jobs"] for p in ref_untraced]))
    m["trace.pass_self_s"] = stats.median(
        [selfs[s["id"]] / 1e3 for s in spans if s["family"] == "pass" and not s["reference"]])
    bulk = rec.get("bulk") or {}
    if bulk:
        c1, cn = bulk["c1"], bulk["cN"]
        phases = {}
        for w in cn["layers"]["phases"]:
            for k, v in w.items():
                phases[k] = phases.get(k, 0.0) + v
        fe = phases.get("fetch+extract+stage", 0.0)
        m["trace.crawl_urls_per_s_cN"] = cn["items"] / cn["wall_s"]
        m["trace.crawl_urls_per_s_c1"] = c1["items"] / c1["wall_s"]
        m["trace.scaling_eff_c1_cN"] = (c1["wall_s"] / cn["wall_s"]) / cores
        # "stage" is the parent of pop, fetch+extract and expand
        m["trace.bulk_fetch_extract_share"] = fe / sum(v for k, v in phases.items() if k != "stage")
        m["trace.bulk_fetch_extract_eff"] = (
            cn["layers"]["pages"] * core["extract_us_per_page"] / 1e6) / (cores * fe)
    else:
        for k in ("crawl_urls_per_s_cN", "crawl_urls_per_s_c1", "scaling_eff_c1_cN",
                  "bulk_fetch_extract_share", "bulk_fetch_extract_eff"):
            m[f"trace.{k}"] = 0.0
    m["host.canary_serial_s"] = rec["canaries"]["serial_s"]
    m["host.membw_gbs"] = rec["canaries"]["membw_gbs"]
    span_table = [{**s, "self_ms": selfs[s["id"]], "pass": pass_of.get(s["id"])} for s in spans]
    return m, span_table


# ---------- self-test ----------

def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(str(HERE), pattern="test_*.py")
    ok = unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful()
    cp = build.build()
    r = subprocess.run([build.java(), *build.jvm_local(build.BUILD / "selftest"), "-Xmx1g",
                        "-cp", os.pathsep.join(map(str, cp)), "graft.perfbench.SelfTest"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
    return 0 if ok and r.returncode == 0 else 1


def main():
    # a terminated run still stops and reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests and exit")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    try:
        e2e_units, layer_units = load_spec()
        expected = json.loads((HERE / "expected.json").read_text())
        classpath = build.build()
        rec = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace == 1)
    except (build.BuildError, RuntimeError, OSError, ValueError,
            subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    if not any(p["traced"] == bool(a.trace) and not p["reference"] for p in rec["passes"]):
        print(f"perfbench: no pass completed: {rec['failures']}", file=sys.stderr)
        return 2
    attempted, fails = check(rec, expected)
    for f in fails:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    e2e, samples = end_to_end(rec, traced=bool(a.trace))
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "fail_ratio": len(fails) / attempted, **samples,
            "canaries": rec["canaries"], "setup": rec["setup"],
            "jobs_per_pass": [p["jobs"] for p in rec["passes"]]}
    if a.trace:
        values, span_table = per_layer(rec)
        units = layer_units
        (OUT / f"{a.workload}-{a.seed}-spans.json").write_text(json.dumps(span_table))
        info["traced_end_to_end"] = e2e
    else:
        values, units = e2e, e2e_units
    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: metrics not produced: {sorted(missing)}", file=sys.stderr)
        return 2
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    (OUT / f"{a.workload}-{a.seed}-{'trace' if a.trace else 'timed'}.report.json").write_text(
        json.dumps({"info": info, "metrics": metrics, "failures": fails}, indent=1))
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
