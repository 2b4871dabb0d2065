#!/usr/bin/env python3
"""Regenerates reference.json: the expected result of every workload key on
the sf0.1 fixtures.

    python3 perfbench/make_reference.py

Oracle keys: the digest of the DuckDB oracle's result (Registry.oracles,
dumped by graft.Verify) under tools/strict.py's rendering. Each Spark result
is also strictly compared here, so a reference is only written for a tree
that passes. Keys without an oracle get declared bounds: dq_profile_hll
against the exact profile (the dq_profile oracle) within the sketch's 2%;
stream_watermark_late against the exact per-window counts, with its
replay's row count pinned. An oracle whose SQL is unchanged keeps its
digest; computing one afresh can take long (dedup_near_minhash's oracle is
a brute-force pair join: about 20 minutes on 4 cores).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import duckdb
import pandas as pd

import run
import correctness
import workloads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def verify_cmd(cp, sf, out, keys):
    return ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.Verify", sf, out] + keys


def main():
    sf = os.environ.get("PERFBENCH_SF_DIR") or os.environ.get("SPARK_GRAFT_SF_DIR") \
        or os.path.expanduser("~/testdata/sf0.1")
    os.makedirs(os.path.join(run.WORK, "cwd"), exist_ok=True)
    cp = run.build()
    keys = [k for w in workloads.WORKLOADS.values() for k in w]
    if len(sys.argv) > 1:  # an existing graft.Verify dump of these keys
        out = sys.argv[1]
    else:
        out = tempfile.mkdtemp(dir=run.WORK, prefix="reference-")
        subprocess.run(verify_cmd(cp, sf, out, keys), check=True,
                       cwd=os.path.join(run.WORK, "cwd"), stdin=subprocess.DEVNULL)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    strict = correctness._strict(run.ROOT)
    path = os.path.join(run.BENCH, "reference.json")
    old = json.load(open(path))["keys"] if os.path.exists(path) else {}
    ref, bad = {}, []
    for key in keys:
        spark_df = pd.read_parquet(os.path.join(out, key))
        if key in oracles:
            sha = hashlib.sha256(oracles[key].encode()).hexdigest()
            if old.get(key, {}).get("sql_sha256") == sha:  # oracle unchanged: reuse
                ref[key] = old[key]
            else:
                cols, rows = strict.frame_rows(con.execute(oracles[key]).fetchdf())
                ref[key] = {"check": "oracle", "rows": len(rows), "sql_sha256": sha,
                            "digest": correctness.digest(cols, rows)}
            if correctness.frame_digest(run.ROOT, spark_df)[0] != ref[key]["digest"]:
                bad.append(key)
        elif key == "dq_profile_hll":
            exact = con.execute(oracles["dq_profile"]).fetchdf()
            recs = json.loads(exact.to_json(orient="records"))
            ref[key] = {"check": "hll_profile", "rows": len(recs), "rel_bound": 0.02, "exact": recs}
        elif key == "stream_watermark_late":
            exact = con.execute("""SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws,
                                          event_type, count(*) AS n
                                   FROM events GROUP BY ALL""").fetchall()
            # which rows arrive late depends on how the replay's input was
            # staged, so the order probe does not compare its digest
            ref[key] = {"check": "window_upper_bound", "rows": len(spark_df), "replay_dependent": True,
                        "exact": {f"{ws}|{et}": n for ws, et, n in exact}}
        else:
            sys.exit(f"no reference rule for {key}")
        err = correctness.BOUND_CHECKS.get(ref[key]["check"], lambda d, r: None)(spark_df, ref[key])
        if err:
            bad.append(f"{key}: {err}")
        print(f"{key}: {ref[key]['check']} rows={ref[key]['rows']}", flush=True)
    if bad:
        sys.exit(f"Spark results do not match: {bad}")
    with open(path, "w") as f:
        json.dump({"sf": os.path.basename(sf.rstrip("/")), "keys": ref}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
