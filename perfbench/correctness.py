"""Checks each key's dumped result against reference.json.

Keys with a DuckDB oracle are compared by digest under the strict compare
of tools/strict.py (columns sorted by name, rows sorted, every cell
compared on its rendering). The reference digests are the oracle's own
results, made by make_reference.py. Keys without an oracle are checked
against declared bounds instead."""
import ast
import functools
import hashlib
import json
import os
import types

import pandas as pd


@functools.lru_cache(maxsize=None)
def _strict(root):
    """tools/strict.py's `render` and `frame_rows`, taken from its source
    (the script runs its main() on import), so both checks render alike."""
    path = os.path.join(root, "tools", "strict.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    tree.body = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))
                 or (isinstance(n, ast.FunctionDef) and n.name in ("render", "frame_rows"))]
    ns = {}
    exec(compile(tree, path, "exec"), ns)
    return types.SimpleNamespace(**ns)


def digest(cols, rows):
    return hashlib.sha256(json.dumps([list(cols), [list(r) for r in rows]]).encode()).hexdigest()


def frame_digest(root, df):
    cols, rows = _strict(root).frame_rows(df)
    return digest(cols, rows), len(rows)


def check_hll_profile(df, ref):
    """Mergeable stats equal the exact profile; n_distinct within the
    sketch's declared relative bound."""
    exact = {r["col_name"]: r for r in ref["exact"]}
    if sorted(df["col_name"]) != sorted(exact):
        return f"columns profiled {sorted(df['col_name'])} != {sorted(exact)}"
    for r in df.to_dict("records"):
        e = exact[r["col_name"]]
        for c in ("n_rows", "n_null", "min_num", "max_num", "min_str", "max_str"):
            if str(r[c]) != str(e[c]) and not (pd.isna(r[c]) and e[c] is None):
                return f"{r['col_name']}.{c}: {r[c]} != exact {e[c]}"
        if abs(r["n_distinct"] - e["n_distinct"]) > ref["rel_bound"] * e["n_distinct"]:
            return f"{r['col_name']}.n_distinct {r['n_distinct']} not within {ref['rel_bound']} of {e['n_distinct']}"
    return None


def check_window_upper_bound(df, ref):
    """Late rows can only be dropped: each emitted (window, type) count is at
    most the exact count, and the replay emits the pinned number of rows."""
    if len(df) != ref["rows"]:
        return f"rows {len(df)} != pinned {ref['rows']}"
    exact = ref["exact"]
    for ws, et, n in zip(df["ws"], df["event_type"], df["n"]):
        bound = exact.get(f"{ws}|{et}")
        if bound is None or n > bound:
            return f"window {ws}/{et}: n={n} exceeds exact {bound}"
    return None


BOUND_CHECKS = {"hll_profile": check_hll_profile,
                "window_upper_bound": check_window_upper_bound}


def check_key(root, dump_dir, key, ref):
    """Returns (digest, error): the result's strict digest, and None when
    the result matches its reference."""
    path = os.path.join(dump_dir, key)
    if not os.path.isdir(path):
        return None, "no result was dumped"
    df = pd.read_parquet(path)
    dig, rows = frame_digest(root, df)
    if ref["check"] == "oracle":
        if rows != ref["rows"]:
            return dig, f"rows {rows} != oracle {ref['rows']}"
        return dig, None if dig == ref["digest"] else "result differs from the oracle"
    return dig, BOUND_CHECKS[ref["check"]](df, ref)


def order_probe(store_path, seed, order, digests):
    """Order-invariance probe: a key's result digest must not depend on the
    key order, so every run (each seed is another order) must reproduce the
    digest the first run recorded. Returns {key: error} for mismatches."""
    store = {}
    if os.path.exists(store_path):
        with open(store_path) as f:
            store = json.load(f)
    errors = {}
    for key, dig in digests.items():
        seen = store.get(key)
        if seen is None:
            store[key] = {"digest": dig, "seed": seed, "order": order}
        elif seen["digest"] != dig:
            errors[key] = f"digest differs from the run with seed {seen['seed']} (order-dependent result)"
    with open(store_path, "w") as f:
        json.dump(store, f, indent=1)
    return errors
