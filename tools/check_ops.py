#!/usr/bin/env python
"""Oracle parity check and per-op Spark counters for registered ops, and
which ops a change touched.

Usage: python tools/check_ops.py [op ...] [--sf 0.01,0.1] [--double] [--changed REV]

Selection: the named ops, plus (``--changed REV``) every op whose closure
hash differs between REV and the working tree. With neither, every op, in
registration order.

Each selected op runs on a vanilla ``local[*]`` session from a foreign cwd
and is compared with its DuckDB oracle by ``tests/oracle_compare.py``.
Before each SF's ops, an untimed warm-up reads every table once, starts
the Python workers and makes one throwaway op call, so no op's figures
carry the first-read schema job or the worker start-up, and the first op
does not carry the session's first code generation and JIT.

Every line printed is one JSON object. The first names the commit (with
``+dirty`` when ``bpspark/``, ``tools/`` or ``tests/`` differ from it), the
host's core count and the session's parallelism. Then one line per (op,
sf, pass) gives the status, the Spark rows, the Spark and oracle seconds
and the counters of ``bpspark.obs.profile`` for the call's two phases:
``build`` is ``op.fn(...)`` (the op's own collects, checkpoints and
broadcasts before it returns its frame) and ``output`` is ``toPandas()``.
``driver_bytes`` is the build phase's ``result_bytes``: an op whose output
grows with the SF is not driver-bound by that fact alone. Statuses:

  PASS     oracle matched on a non-empty result
  ROWS     rows-only op (no oracle) executed
  FAIL     oracle mismatch
  VACUOUS  both engines returned 0 rows, which certifies nothing
  ERROR    the op raised; the error is isolated and the sweep goes on

One ``summary`` line per SF gives the status counts and wall time. When
``--sf`` names more than one SF, one ``growth`` line per op and step
between consecutive SFs follows (from each op's last pass). It gives the
build jobs, ``driver_bytes`` and the call's ``shuffle_write_bytes`` at
both SFs, their ratios (``x``) and three flags:

  driver_bound          driver_bytes grows >= 5x: a driver-bound collect
  data_dependent_jobs   the build ran a different number of jobs
  super_linear_shuffle  shuffle write bytes grow > 15x

Some inputs do not grow on every step (``documents`` and ``embeddings``
hold as many rows at sf0.001 as at sf0.01), so read the text and vector
ops' growth from the sf0.01 -> 0.1 step. Counters of plans that AQE sizes
at run time (a broadcast-exchange job's result bytes) vary between runs:
re-run a flagged op before naming it.

Every output, rows-only included, also gets a pandas multi-column sort:
list/dict cells make its factorize step throw, which breaks any consumer
that canonicalizes rows. ``--double`` runs every op twice in one session,
so state or conf leaks show on the second pass. Per-op seconds are
comparable across commits only from that second pass: each op compiles
its own plans on its first call in a session, which the warm-up cannot
absorb. Exit 1 on any FAIL, VACUOUS or ERROR.

The closure hash (``op_source_hash(op_closure_source(fn), sql)``) covers
the op body, its oracle SQL and the transitive package-wide helper
closure: every function or class the body references anywhere in the
package (sibling modules and function-local imports included), plus the
module-level constants it reads. A helper edit thereby changes every
caller's hash. Two blind spots are deliberate:
 - the ``_CLOSURE_PLUMBING`` modules (io/session/registry/config/errors)
   are shared by every op, so they are not hashed; instead ``--changed``
   selects every op when any of them differs from REV;
 - module constants that are neither scalar-composed nor plain containers
   (objects, compiled regexes, function tables) have no stable repr; when
   editing one, name its readers explicitly.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op_source_hash(src: str, sql: str | None) -> str:
    """THE op hash: closure source + oracle SQL. ``src`` should be
    ``op_closure_source(op.fn)``."""
    return hashlib.sha256((src + "\x00" + (sql or "")).encode()).hexdigest()


def _const_repr(v) -> str | None:
    """Deterministic repr for IMMUTABLE module-level constants worth
    hashing by value: plain scalars and (nested) tuples/frozensets of
    them. MUTABLE containers (dicts/lists/sets) are deliberately NOT
    hashed by value — a runtime-populated module cache (e.g.
    _BPE_MERGE_CACHE) would make an op's hash depend on what ran earlier
    in the process. They are hashed by their top-level ASSIGNMENT SOURCE
    instead (see _module_assign_sources), which is stable under runtime
    mutation but still changes when the constant is edited. Anything
    else (function tables, objects, compiled regexes — whose reprs can
    carry memory addresses) stays out of the hash; see the module
    docstring's blind-spot list."""
    if isinstance(v, (bool, int, float, str, bytes)) or v is None:
        return repr(v)
    if isinstance(v, (tuple, frozenset)):
        items = sorted(v, key=repr) if isinstance(v, frozenset) else list(v)
        parts = [_const_repr(x) for x in items]
        if any(p is None for p in parts):
            return None
        return "(" + ", ".join(parts) + ")"  # type: ignore[arg-type]
    return None


_ASSIGN_SRC_CACHE: dict = {}


def _module_assign_sources(mod) -> dict:
    """name -> top-level assignment source text for a module (cached).
    Lets the closure hash cover mutable-container constants (dicts,
    lists, module caches) by their SOURCE, immune to runtime mutation."""
    import ast
    import inspect

    key = getattr(mod, "__name__", None) if mod else None
    if key in _ASSIGN_SRC_CACHE:
        return _ASSIGN_SRC_CACHE[key]
    out: dict = {}
    try:
        src = inspect.getsource(mod)
        tree = ast.parse(src)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                targets = [node.target.id]
            else:
                continue
            seg = ast.get_source_segment(src, node)
            for t in targets:
                out[t] = seg
    except (OSError, SyntaxError, TypeError):
        pass
    _ASSIGN_SRC_CACHE[key] = out
    return out


# Modules whose helpers are EXCLUDED from the closure: engine plumbing
# imported by essentially every op (see module docstring).
_CLOSURE_PLUMBING = frozenset({"io", "session", "registry", "config", "errors"})

# Import-machinery module attributes EXCLUDED from the constant hash:
# ``__file__`` is an ABSOLUTE path, so a body that references it (e.g. the
# addPyFile zip helper in bpspark/__init__.py) would hash differently from
# every checkout location, and an unchanged op would always read as
# changed against another checkout. Edits to code that USES them still
# flag through the function-source hash.
_ENV_DUNDERS = frozenset(
    {"__file__", "__path__", "__cached__", "__spec__", "__loader__", "__builtins__"}
)


def _in_closure_scope(v, pkg: str) -> bool:
    """True when ``v`` is a function/class defined in the op's package
    and not in a plumbing module."""
    import inspect

    if not (inspect.isfunction(v) or inspect.isclass(v)):
        return False
    vmod = getattr(v, "__module__", "") or ""
    if not (vmod == pkg or vmod.startswith(pkg + ".")):
        return False
    return vmod.rsplit(".", 1)[-1] not in _CLOSURE_PLUMBING


def op_closure_source(fn) -> str:
    """The op's source PLUS its transitive package-wide helper closure:
    AST-walk the function body for referenced names, resolve them in the
    enclosing globals, and recursively append the source of every
    package-local (non-plumbing) function/class plus the repr of every
    scalar-composed module-level constant. Deterministic: helpers are
    visited DFS in sorted-name order, each emitted once, labeled
    module-qualified so same-named helpers in sibling modules don't shadow
    each other.

    FUNCTION-LOCAL imports are part of the closure too: a name bound by
    ``from bpspark.X import helper`` INSIDE the op body is a local, not a
    global, so the Name walk alone cannot resolve it — each visited
    body's ``ast.ImportFrom`` nodes are therefore resolved via importlib
    into the same function/class-visit or constant-hash paths. Plumbing
    modules stay excluded here exactly as in the globals path. Remaining
    gap: ``import bpspark.X`` + attribute access inside a body — a
    pattern the package does not use; if one ever lands, name its readers
    explicitly, as with non-scalar constants."""
    import ast
    import importlib
    import inspect
    import textwrap

    pkg = (getattr(fn, "__module__", "") or "").split(".", 1)[0]
    seen: set[str] = set()
    out: list[str] = []

    def visit(obj, label: str) -> None:
        if label in seen:
            return
        seen.add(label)
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):
            return
        out.append(src)
        try:
            tree = ast.parse(textwrap.dedent(src))
        except SyntaxError:
            return
        refs = sorted(
            {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        )
        def handle(v, name: str, const_mod, const_modname: str) -> None:
            """Shared resolution: package-local function/class → recurse;
            anything else → constant hash (by value, or by assignment
            source from ``const_mod`` for mutable containers). Path-class
            module dunders are skipped (``_ENV_DUNDERS``) — they encode
            WHERE the tree is checked out, not what the op computes."""
            if name in _ENV_DUNDERS:
                return
            if _in_closure_scope(v, pkg):
                visit(v, f"{getattr(v, '__module__', '')}.{getattr(v, '__qualname__', name)}")
            elif not inspect.ismodule(v):
                rep = _const_repr(v)
                if rep is None and isinstance(v, (dict, list, set)):
                    # mutable container: hash its assignment SOURCE
                    # (runtime-mutation-proof)
                    rep = _module_assign_sources(const_mod).get(name)
                if rep is not None:
                    const_line = f"{const_modname}:{name} = {rep}"
                    if const_line not in seen:
                        seen.add(const_line)
                        out.append(const_line)

        g = getattr(obj, "__globals__", None)
        if g is None:  # classes don't carry __globals__
            omod = inspect.getmodule(obj)
            g = vars(omod) if omod else {}
        for r in refs:
            if r not in g:
                continue
            handle(g[r], r, inspect.getmodule(obj), getattr(obj, "__module__", ""))
        # Function-local imports: ``from bpspark.X import h`` inside the
        # body binds a LOCAL name the globals lookup above cannot see —
        # resolve the imported module and route each alias through the
        # same handler. Only absolute package-local, non-plumbing modules
        # participate (mirrors _in_closure_scope).
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            modname = node.module or ""
            if not (modname == pkg or modname.startswith(pkg + ".")):
                continue
            if modname.rsplit(".", 1)[-1] in _CLOSURE_PLUMBING:
                continue
            try:
                mod = importlib.import_module(modname)
            except Exception as exc:  # noqa: BLE001 — an import that
                # raises ANYTHING (env-dependent side effects, not just
                # ImportError) must surface as a visible skip, not
                # silently narrow the closure hash
                print(
                    f"warn: closure import {modname} failed ({exc!r}) — "
                    "its helpers are NOT in the closure hash",
                    file=sys.stderr,
                )
                continue
            for alias in node.names:
                v = getattr(mod, alias.name, None)
                if v is not None:
                    handle(v, alias.name, mod, modname)

    visit(fn, f"{getattr(fn, '__module__', '')}.{getattr(fn, '__qualname__', '<fn>')}")
    return "\n".join(out)


# Runs in a fresh interpreter with ``repo`` first on sys.path, so it hashes
# THAT tree's registry. The hash functions come from THIS file (the current
# tools dir), so every tree is hashed by one definition. This module must
# not touch sys.path at import time: a live-repo entry ahead of ``repo``
# would make every tree hash as the live one.
_HASH_SNIPPET = r"""
import json, sys
sys.path.insert(0, {repo!r})
sys.path.insert(1, {tools!r})
from check_ops import op_source_hash, op_closure_source
from bpspark.registry import all_ops
out = {{}}
for name, op in all_ops().items():
    try:
        src = op_closure_source(op.fn)
    except OSError:
        src = ""
    out[name] = op_source_hash(src, op.sql)
print(json.dumps(out))
"""


def hash_ops_at(repo_dir: str) -> dict[str, str]:
    """Closure hash per op, in registration order, for the bpspark tree
    rooted at ``repo_dir``."""
    res = subprocess.run(
        [
            sys.executable,
            "-c",
            _HASH_SNIPPET.format(repo=repo_dir, tools=os.path.dirname(os.path.abspath(__file__))),
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def hash_ops_at_rev(rev: str, repo: str = REPO) -> dict[str, str]:
    """Closure hash per op for ``bpspark/`` as committed at ``rev``."""
    tar = subprocess.run(
        ["git", "archive", "--format=tar", rev, "bpspark"],
        cwd=repo, check=True, capture_output=True,
    ).stdout
    with tempfile.TemporaryDirectory(prefix="bpspark_at_rev_") as tree:
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(tree, filter="data")
        return hash_ops_at(tree)


def changed_ops(rev: str, repo: str = REPO) -> tuple[list[str], str]:
    """Ops of ``repo``'s working tree whose closure hash differs from
    ``rev`` (new ops included), in registration order, and why."""
    plumbing = [f"bpspark/{m}.py" for m in sorted(_CLOSURE_PLUMBING)]
    moved = subprocess.run(
        ["git", "diff", "--name-only", rev, "--", *plumbing],
        cwd=repo, check=True, capture_output=True, text=True,
    ).stdout.split()
    now = hash_ops_at(repo)
    if moved:
        return list(now), (
            f"plumbing differs from {rev} ({', '.join(moved)}; outside the "
            f"closure hash): all {len(now)} ops selected"
        )
    old = hash_ops_at_rev(rev, repo)
    names = [n for n, h in now.items() if old.get(n) != h]
    return names, f"{len(names)} of {len(now)} ops have a closure hash that differs from {rev}"


def _run_counting(spark, op, sf_dir: str):
    """(pandas output, build counters, output counters) for one op call.
    The build is ``op.fn(...)``: the op's own collects, checkpoints and
    broadcasts before it returns its frame. The output is ``toPandas()``."""
    from bpspark import obs

    frame, build = obs.profile(spark, lambda: op.fn(spark, sf_dir))
    pdf, output = obs.profile(spark, frame.toPandas)
    return pdf, build, output


def _warm_up(spark, sf_dir: str) -> None:
    """Pay the one-time costs before any op is timed: the first read of
    each table resolves its schema in a job of its own (later reads hit
    io's schema cache), the first Python UDF starts the workers, and the
    first op call pays JVM code generation and JIT (one throwaway
    ``scan_parquet`` call)."""
    from bpspark.io import TABLES, table
    from bpspark.registry import all_ops

    for t in TABLES:
        table(spark, sf_dir, t)
    spark.range(4).mapInPandas(lambda it: it, "id long").collect()
    all_ops()["scan_parquet"].fn(spark, sf_dir).toPandas()


def _check(spark, con, op, sf_dir: str) -> dict:
    """The record of one op run: status, Spark rows, the two phases'
    counters, Spark and oracle seconds and the oracle's problems."""
    from oracle_compare import compare_frames

    t0 = time.monotonic()
    pdf, build, output = _run_counting(spark, op, sf_dir)
    if len(pdf.columns):
        pdf.sort_values(by=sorted(pdf.columns), kind="stable")
    t1 = time.monotonic()
    rec = {"status": "ROWS", "rows": len(pdf), "spark_s": round(t1 - t0, 2), "oracle_s": 0.0,
           "driver_bytes": build["result_bytes"], "build": build, "output": output}
    if op.sql is None:
        return rec
    odf = con.sql(op.sql).df()
    rec["oracle_s"] = round(time.monotonic() - t1, 2)
    probs = compare_frames(pdf, odf, op.name)
    if probs:
        rec.update(status="FAIL", problems=probs)
    elif len(pdf) == 0 and len(odf) == 0:
        rec["status"] = "VACUOUS"
    else:
        rec["status"] = "PASS"
    return rec


def _growth(name: str, sf_a: str, a: dict, sf_b: str, b: dict) -> dict:
    """One op's growth from ``sf_a`` to ``sf_b`` (records as ``_check``
    returns them) and its flags; see the module docstring."""
    def figures(rec):
        return {"jobs": rec["build"]["jobs"], "driver_bytes": rec["driver_bytes"],
                "shuffle_write_bytes": rec["build"]["shuffle_write_bytes"]
                + rec["output"]["shuffle_write_bytes"]}

    fa, fb = figures(a), figures(b)
    x = {k: round(fb[k] / fa[k], 2) if fa[k] else None for k in fa}
    flags = [flag for flag, hit in (
        ("driver_bound", (x["driver_bytes"] or 0) >= 5),
        ("data_dependent_jobs", fa["jobs"] != fb["jobs"]),
        ("super_linear_shuffle", (x["shuffle_write_bytes"] or 0) > 15),
    ) if hit]
    return {"growth": name, "from": sf_a, "to": sf_b,
            **{k: [fa[k], fb[k]] for k in fa}, "x": x, "flags": flags}


def _commit() -> str:
    """HEAD, marked ``+dirty`` when the code the sweep runs differs from it."""
    git = ["git", "-C", REPO]
    head = subprocess.run([*git, "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True).stdout.strip()
    dirty = subprocess.run([*git, "diff", "--quiet", "HEAD", "--", "bpspark", "tools", "tests"])
    return head + ("+dirty" if dirty.returncode else "")


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("ops", nargs="*", help="op names (default: every op)")
    ap.add_argument("--sf", default="0.01", help="comma-separated SFs, e.g. 0.001,0.01,0.1")
    ap.add_argument("--double", action="store_true", help="run every op twice per session")
    ap.add_argument("--changed", metavar="REV", help="add every op changed since REV")
    args = ap.parse_args()
    sys.path[:0] = [REPO, os.path.join(REPO, "tests")]

    from bpspark.registry import all_ops

    ops = all_ops()
    unknown = [n for n in args.ops if n not in ops]
    if unknown:
        sys.exit(f"unknown ops: {', '.join(unknown)}")
    names = list(args.ops)
    if args.changed:
        changed, why = changed_ops(args.changed)
        print(f"--changed {args.changed}: {why}", flush=True)
        names += [n for n in changed if n not in names]
    elif not names:
        names = list(ops)
    if not names:
        print("no ops selected")
        return

    os.chdir(tempfile.gettempdir())  # foreign cwd; keeps DuckDB spill out of the repo
    import duckdb
    from pyspark.sql import SparkSession

    from oracle_compare import register_views

    import bpspark

    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    bpspark.ensure_worker_imports(spark)
    sfs = args.sf.split(",")
    print(json.dumps({"commit": _commit(), "cores": os.cpu_count(),
                      "parallelism": spark.sparkContext.defaultParallelism,
                      "spark": spark.version, "sfs": sfs, "ops": len(names)}), flush=True)
    passes = 2 if args.double else 1
    bad = 0
    last: dict = {}  # (op, sf) -> record of its last pass
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        con = duckdb.connect()
        register_views(con, sf_dir)
        counts = dict.fromkeys(("PASS", "ROWS", "FAIL", "VACUOUS", "ERROR"), 0)
        _warm_up(spark, sf_dir)
        wall0 = time.monotonic()
        for p in range(1, passes + 1):
            for name in names:
                try:
                    rec = _check(spark, con, ops[name], sf_dir)
                    last[name, sf] = rec
                except Exception as ex:  # noqa: BLE001 — report, keep checking the rest
                    rec = {"status": "ERROR", "error": f"{type(ex).__name__}: {str(ex)[:300]}"}
                    last.pop((name, sf), None)
                counts[rec["status"]] += 1
                print(json.dumps({"op": name, "sf": sf, "pass": p, **rec}, default=str), flush=True)
        con.close()
        bad += counts["FAIL"] + counts["VACUOUS"] + counts["ERROR"]
        print(json.dumps({"summary": f"sf{sf}", "runs": sum(counts.values()), "ops": len(names),
                          **counts, "wall_s": round(time.monotonic() - wall0)}), flush=True)
    for sf_a, sf_b in zip(sfs, sfs[1:]):
        for name in names:
            if (name, sf_a) in last and (name, sf_b) in last:
                print(json.dumps(_growth(name, sf_a, last[name, sf_a], sf_b, last[name, sf_b])))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
