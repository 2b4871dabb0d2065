#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads over the sf0.1
fixtures, end-to-end metrics and (with --trace 1) per-layer metrics.

    python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs one JVM per run (local[nproc], one key at a time, noop sink), checks
every key's result against the DuckDB oracle digests in reference.json and
prints one JSON object as the last line of standard output. The fixture
directory is $PERFBENCH_SF_DIR, else $SPARK_GRAFT_SF_DIR (graft.Bench's
variable), else ~/testdata/sf0.1. See NOTES.md for the metrics' meaning.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
sys.path.insert(0, BENCH)

import correctness  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

# The engine keeps its durable stages and ephemera under this directory
# (thrivespark.Scratch and the staging ops hard-code it).
SCRATCH_ROOT = "/tmp"
STALE_AFTER_S = 10 * 60  # graft.Bench's cleanScratch rule
JVM_TIMEOUT_S = 160  # a run must end within 180 s
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                 os.path.join(ROOT, "project")):
        for dirpath, dirnames, files in os.walk(base):  # top-down, pruned in place
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath. A rebuild
    drops the order probe's digests, which belong to the previous build."""
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    for name in os.listdir(WORK):
        if name.startswith("digests-"):
            os.unlink(os.path.join(WORK, name))
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    extra = f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""
    env["SBT_OPTS"] = env.get("SBT_OPTS") or f"-Dsbt.offline=true -Xmx2g{extra}"
    log("building engine and harness (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---- fixed starting state for /tmp/graft_* -------------------------------

def _last_activity(path, depth=4):
    """Latest mtime at or below `path` (bounded depth, links not followed)."""
    try:
        t = os.lstat(path).st_mtime
    except FileNotFoundError:
        return 0.0
    if depth > 0 and os.path.isdir(path) and not os.path.islink(path):
        try:
            for e in os.scandir(path):
                t = max(t, _last_activity(e.path, depth - 1))
        except OSError:
            pass
    return t


def scratch_entries():
    """Top-level /tmp/graft_* directories and the directories in graft_eph.
    The engine's stages and ephemera are all directories; plain files and
    links are never touched."""
    def dirs(root, names):
        return {os.path.join(root, n) for n in names
                if os.path.isdir(os.path.join(root, n)) and not os.path.islink(os.path.join(root, n))}
    out = dirs(SCRATCH_ROOT, [n for n in os.listdir(SCRATCH_ROOT) if n.startswith("graft_")])
    eph = os.path.join(SCRATCH_ROOT, "graft_eph")
    if eph in out:
        out.discard(eph)
        out |= dirs(eph, os.listdir(eph))
    return out


def sweep_stale():
    """Starting-state policy, part 1: remove every durable stage and every
    ephemeral entry idle for more than 10 minutes (graft.Bench's rule), so
    each run starts without staged data and pays staging in its cold pass.
    Entries touched recently may belong to a live process and are kept."""
    now = time.time()
    stale = [p for p in scratch_entries() if now - _last_activity(p) > STALE_AFTER_S]
    for p in stale:
        shutil.rmtree(p, ignore_errors=True)
    return len(stale)


def other_jvms():
    """Live JVMs other than this run's (which has exited by now)."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            out.append(int(pid))
    return out


def remove_own(before, jvm_exit):
    """Part 2: after the JVM has exited, remove what appeared during the run
    and has been idle since the JVM exited, so the next run finds the same
    starting state. While another JVM is alive, a new entry may be its live
    state rather than this run's, so nothing is removed."""
    if other_jvms():
        log("another JVM is running: this run's scratch entries are left in place")
        return 0
    mine = [p for p in scratch_entries() - before if _last_activity(p) <= jvm_exit + 1]
    for p in sorted(mine, key=len, reverse=True):
        shutil.rmtree(p, ignore_errors=True)
    return len(mine)


# ---- one run ---------------------------------------------------------------

def run_jvm(cp, args, run_dir, deadline):
    os.makedirs(os.path.join(WORK, "cwd"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(WORK, 'local')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=os.path.join(WORK, "cwd"), stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    return rc


def end_to_end(raw, failed_keys, n_keys):
    passes = raw["passes"]
    warm = [metrics.pass_wall(p) for p in passes if p["kind"] == "warm" and not p["traced"]]
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "cold_s": (metrics.pass_wall(passes[0]), "s"),
        "warm_s": (statistics.median(warm), "s"),
        "pass_frac": (1.0 - len(failed_keys) / n_keys, "frac"),
    }


def per_layer(raw, workload, trace_path):
    passes = raw["passes"]
    cold_i = 0
    warm_i = next(i for i, p in enumerate(passes) if p["kind"] == "warm" and p["traced"])
    out, notes = {}, {}
    for suffix, i in (("cold", cold_i), ("warm", warm_i)):
        m, extra = metrics.pass_layers(raw, i)
        out.update({f"{k}.{suffix}": v for k, v in m.items()})
        notes[suffix] = extra
    out.update(metrics.kernel_layers(raw["kernels"]))
    traced = [metrics.pass_wall(p) for p in passes if p["kind"] == "warm" and p["traced"]]
    plain = [metrics.pass_wall(p) for p in passes if p["kind"] == "warm" and not p["traced"]]
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1.0
    out["peak_rss_mb"] = raw["peak_rss_mb"]
    cold_spans, warm_spans = metrics.build_spans(raw, cold_i), metrics.build_spans(raw, warm_i)
    spans = cold_spans + [  # span ids stay unique across the two passes
        dict(s, span=s["span"] + len(cold_spans),
             parent=None if s["parent"] is None else s["parent"] + len(cold_spans))
        for s in warm_spans]
    self_s = {"cold": metrics.layer_self_times(cold_spans),
              "warm": metrics.layer_self_times(warm_spans)}
    per_key = {"cold": metrics.key_breakdown(raw, cold_i), "warm": metrics.key_breakdown(raw, warm_i)}
    with open(trace_path, "w") as f:
        json.dump({"workload": workload, "spans": spans, "self_time_s": self_s,
                   "per_key": per_key, "notes": notes}, f)
    log(f"spans: {trace_path}")
    for key, cold in per_key["cold"].items():
        warm = per_key["warm"][key]
        log(f"{key} cold-warm: " + ", ".join(
            f"{n} {cold[n]:.3g}-{warm[n]:.3g}" for n in ("wall_s",) + metrics.KEY_METRICS
            if cold[n] or warm[n]))
    for suffix in ("cold", "warm"):
        log(f"self time ({suffix}): " + ", ".join(
            f"{k}={v:.3f}s" for k, v in sorted(self_s[suffix].items())))
        log(f"stream.batch_tail_ms.{suffix}: p{notes[suffix]['stream.batch_tail_pct']} "
            f"of n={notes[suffix]['stream.batches']} batches")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("the engine's sources (build.sbt, src/) are not beside perfbench/; nothing to measure")
    sf_dir = os.environ.get("PERFBENCH_SF_DIR") or os.environ.get("SPARK_GRAFT_SF_DIR") \
        or os.path.expanduser("~/testdata/sf0.1")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"no sf0.1 fixtures at {sf_dir}")
    with open(os.path.join(BENCH, "reference.json")) as f:
        reference = json.load(f)
    os.makedirs(WORK, exist_ok=True)

    cp = build()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    keys = workloads.order(a.workload, a.seed)
    swept = sweep_stale()
    before = scratch_entries()
    kernels = a.trace and a.workload == workloads.KERNEL_WORKLOAD
    args = ["--sf", sf_dir, "--keys", ",".join(keys), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--seed", str(a.seed),
            "--kernels", "1" if kernels else "0"]
    t_jvm = time.time()
    rc = run_jvm(cp, args, run_dir, t_jvm + JVM_TIMEOUT_S)
    t_jvm = time.time() - t_jvm
    removed = remove_own(before, time.time())
    log(f"scratch policy: swept {swept} stale entries, removed {removed} of this run's")
    raw_path = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}; see {run_dir}/jvm.log")
    with open(raw_path) as f:
        raw = json.load(f)

    # failures: executions that raised or timed out, then result mismatches
    failed_keys, errors = set(), []
    attempted = failed = 0
    for p in raw["passes"]:
        for k in p["keys"]:
            attempted += 1
            if not k["ok"]:
                failed += 1
                failed_keys.add(k["key"])
                errors.append(f"{k['key']} ({p['kind']}): {k['error']}")
    digests = {}
    for d in raw["dump"]:
        attempted += 1
        err = d["error"]
        if d["ok"]:
            dig, err = correctness.check_key(ROOT, os.path.join(run_dir, "dump"), d["key"],
                                             reference["keys"][d["key"]])
            if dig:
                digests[d["key"]] = dig
        if err:
            failed += 1
            failed_keys.add(d["key"])
            errors.append(f"{d['key']} (result): {err}")
    # the store belongs to this build: the first run of a build records the
    # digests, and only later runs (other seeds, other orders) can differ
    probe = correctness.order_probe(os.path.join(WORK, f"digests-{a.workload}.json"),
                                    a.seed, keys, digests)
    for key, err in probe.items():
        if reference["keys"][key].get("replay_dependent"):
            log(f"WARN {key} (order probe, exempt: known replay drift): {err}")
            continue
        failed += 1
        failed_keys.add(key)
        errors.append(f"{key} (order probe): {err}")
    if not raw["drained"]:
        errors.append("listener events were not all delivered before the trace was read")
    for e in errors:
        log(f"FAIL {e}")
    for scratch in ("dump", "warmup"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)

    e2e = end_to_end(raw, failed_keys, len(keys))
    log("order: " + " ".join(keys))
    log("cold pass: " + ", ".join(f"{k['key']}={k['wall_s']:.2f}" for k in raw["passes"][0]["keys"]))
    log("; ".join(f"{n}={v:.4f} {u}" for n, (v, u) in e2e.items())
        + f"; fail_frac={1 - e2e['pass_frac'][0]:.4f}; warm passes={len(raw['passes']) - 1}"
        + f"; run wall {time.time() - t_start:.1f} s (jvm {t_jvm:.1f} s; "
        + ", ".join(f"{k} {v:.1f} s" for k, v in raw["phase_s"].items()) + ")")
    if a.trace:
        layer = per_layer(raw, a.workload, os.path.join(WORK, f"trace-{run_id}.json"))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        out = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def unit_of(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    if base.endswith("rows_per_s"):
        return "rows/s"
    if base.endswith("_s"):
        return "s"
    if base.endswith("_ms"):
        return "ms"
    if base.endswith("_mb"):
        return "MB"
    if base.endswith(("_frac", "_util")):
        return "frac"
    return "count"


if __name__ == "__main__":
    main()
