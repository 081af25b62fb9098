"""Local stand-in for the driver's CORRECTNESS gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB against the same sf dir, compares row count, column names,
and a value hash computed over columns sorted by name (rows sorted by
their full tuple) — the same comparison shape the driver uses.

    python scripts/check_oracles.py [--sf-dir /root/testdata/sf0.01] [--only q1,q2]
    python scripts/check_oracles.py --changed-since HEAD~3

``--changed-since GIT_REF`` runs only the queries plausibly affected
by files changed since the ref (committed or working-tree): package
modules map to queries through a TRANSITIVE import graph (a change to
functions/textstats.py selects every query whose operator imports
it), and edits inside __spark_entry__.py / oracles.py map through the
changed diff hunks' function names. It is a builder-iteration
heuristic — run the FULL gate before submitting a round (CLAUDE.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = ["events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.17g}"  # bit-exact bar: the in-repo contract test
        # compares full-precision reprs, so hold this checker to it too
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


PKG = "medical_and_charity_document_extraction_system_spark"


def _pkg_import_graph() -> dict[str, set[str]]:
    """Dotted module -> package modules it imports (absolute and
    relative forms), from a plain-regex scan of the source tree."""
    import re

    graph: dict[str, set[str]] = {}
    for root, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), REPO)
            mod = rel[:-3].replace(os.sep, ".")
            is_init = f == "__init__.py"
            if is_init:
                mod = mod[: -len(".__init__")]
            src = open(os.path.join(root, f)).read()
            deps: set[str] = set()
            pkg_path = mod.split(".") if is_init else mod.split(".")[:-1]
            for m in re.finditer(r"^\s*from\s+(\.+)([\w.]*)\s+import", src, re.M):
                up = len(m.group(1)) - 1
                anchor = pkg_path[: len(pkg_path) - up] if up else pkg_path
                tail = m.group(2)
                deps.add(".".join(anchor + ([tail] if tail else [])))
            for m in re.finditer(
                rf"^\s*(?:from\s+({PKG}[\w.]*)\s+import|import\s+({PKG}[\w.]*))",
                src,
                re.M,
            ):
                deps.add(m.group(1) or m.group(2))
            graph[mod] = deps
    return graph


def _affected_modules(changed_files: list[str]) -> set[str]:
    """Changed package files -> transitive set of dependent modules
    (a query touching operators/lm.py is affected when
    functions/textstats.py changes, because lm imports textstats)."""
    graph = _pkg_import_graph()
    seeds = set()
    for f in changed_files:
        if f.startswith(PKG + "/") and f.endswith(".py"):
            mod = f[:-3].replace("/", ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            seeds.add(mod)
    affected = set(seeds)
    # a "from pkg.operators import dedup"-style dep may record the
    # parent package: treat a dep as hit if it IS an affected module
    # or a prefix of one
    changed = True
    while changed:
        changed = False
        for mod, deps in graph.items():
            if mod in affected:
                continue
            for d in deps:
                if d in affected or any(a.startswith(d + ".") for a in affected):
                    affected.add(mod)
                    changed = True
                    break
    return affected


def _changed_hunk_names(ref: str, path: str) -> str:
    """The unified diff text for one file (hunk headers carry the
    enclosing def name; added/removed lines carry query keys)."""
    import subprocess

    try:
        return subprocess.check_output(
            ["git", "diff", ref, "--", path], cwd=REPO, text=True
        )
    except subprocess.CalledProcessError:
        return ""


def select_changed(ref: str, entry_mod, names: list[str]) -> set[str]:
    import inspect
    import subprocess

    changed = subprocess.check_output(
        ["git", "diff", "--name-only", ref], cwd=REPO, text=True
    ).split()
    affected = _affected_modules(changed)
    qs = entry_mod.queries()
    # names bound at __spark_entry__ top level -> their source module
    entry_src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    import re

    top_imports: dict[str, str] = {}
    for m in re.finditer(
        rf"^from\s+({PKG}[\w.]*)\s+import\s+([\w,\s]+)$", entry_src, re.M
    ):
        for nm in m.group(2).replace(" ", "").split(","):
            if nm:
                top_imports[nm] = m.group(1)
    sel: set[str] = set()
    for name in names:
        try:
            src = inspect.getsource(qs[name])
        except (OSError, TypeError):
            sel.add(name)  # unmappable -> conservative
            continue
        mods = set(re.findall(rf"{PKG}[\w.]*", src))
        mods |= {mod for nm, mod in top_imports.items() if re.search(rf"\b{nm}\b", src)}
        if any(
            m in affected or any(a.startswith(m + ".") for a in affected)
            for m in mods
        ):
            sel.add(name)
    # edits inside the entry/oracle files: map through diff text
    for f in ("__spark_entry__.py", PKG + "/oracles.py"):
        if f in changed:
            diff = _changed_hunk_names(ref, f)
            for name in names:
                if name in sel:
                    continue
                if re.search(rf"\b{re.escape(name)}\b", diff) or re.search(
                    rf"\bq_{re.escape(name)}\b", diff
                ):
                    sel.add(name)
    return sel


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--only", default="")
    p.add_argument("--changed-since", default="", metavar="GIT_REF")
    args = p.parse_args()

    import __spark_entry__ as entry_mod
    from medical_and_charity_document_extraction_system_spark.session import get_spark

    spark = get_spark(app_name="check_oracles")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = entry_mod.queries()
    # pass the target dir so data-derived oracle literals (lm vocab,
    # IVF centroids, bm25 idf/avgdl) are re-derived from the same
    # parquet the Spark queries read — the gate is sf-portable
    sqls = entry_mod.oracle_sql(args.sf_dir)
    only = {s for s in args.only.split(",") if s}
    if args.changed_since and not only:
        only = select_changed(args.changed_since, entry_mod, list(qs))
        print(
            f"--changed-since {args.changed_since}: "
            f"{len(only)}/{len(qs)} queries selected "
            f"({', '.join(sorted(only)) or 'none'})",
            flush=True,
        )
        if not only:
            print(json.dumps({"bad": [], "n": 0}))
            return

    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:300]}
            print(f"{name}: SPARK_ERROR {e}", flush=True)
            continue
        if name not in sqls:
            results[name] = {
                "status": "ROWS_ONLY", "rows": len(srows),
                "sec": round(time.time() - t0, 1),
            }
            print(f"{name}: ROWS_ONLY rows={len(srows)}", flush=True)
            continue
        try:
            rel = con.execute(sqls[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:300]}
            print(f"{name}: ORACLE_ERROR {e}", flush=True)
            continue
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh = table_hash(scols, srows)
        oh = table_hash(ocols, orows)
        ok_hash = ok_cols and sh == oh
        status = "MATCH" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        results[name] = {
            "status": status,
            "rows": (len(srows), len(orows)),
            "cols_ok": ok_cols,
            "hash": (sh, oh),
            "sec": round(time.time() - t0, 1),
        }
        print(f"{name}: {status} rows={len(srows)}/{len(orows)} cols_ok={ok_cols} "
              f"hash={'ok' if ok_hash else (sh + '!=' + oh)} "
              f"[{results[name]['sec']}s]", flush=True)
        if status == "MISMATCH" and ok_cols:
            # print a tiny diff sample to debug
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {"\x1f".join(norm_cell(r[i]) for i in order) for r in srows}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            oset = {"\x1f".join(norm_cell(r[i]) for i in oorder) for r in orows}
            for ln in list(sset - oset)[:3]:
                print(f"   spark-only: {ln[:200]}")
            for ln in list(oset - sset)[:3]:
                print(f"   oracle-only: {ln[:200]}")

    bad = [n for n, r in results.items() if r["status"] not in ("MATCH", "ROWS_ONLY")]
    print(json.dumps({"bad": bad, "n": len(results)}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
