#!/usr/bin/env python
"""Driver-row staleness tracker (VERDICT r2 item 7).

A driver CORRECTNESS row certifies the op's code AS OF the round snapshot
that the driver swept — if the implementation changes afterwards, the row
is stale and the op needs re-verification (this is exactly what happened
to join_asof_latest_prior in round 2). This tool makes that mechanical:

  build-manifest  --round N --rev REV --correctness FILE [...]
      For each round, hash every op's source (inspect.getsource(fn) + the
      oracle SQL) at the given git rev (via a throwaway `git worktree`),
      keep the hash for ops that got a VALID driver row in that round's
      CORRECTNESS file (err == null or a rows-only "no_oracle"), and write
      tools/driver_row_manifest.json (later rounds win).

  stale  (default)
      Compare current op source hashes against the manifest. Prints three
      lists: STALE (valid driver row, source changed since), FRESH (row
      still certifies the code), NEVER (no valid driver row yet). The
      STALE + NEVER union, in registry priority order, is the next sweep
      window candidate set.

The hash covers the op function body + oracle SQL + the TRANSITIVE
package-wide helper closure (r10, VERDICT r9 item 3): every function or
class the op body references that lives anywhere in the op's package
(same module OR a sibling module — quality.py ops import llm_ops
shingle/CC helpers, pipeline.py imports sources.parse_zips) is
included recursively, along with simple module-level constants it reads
(scalars and scalar-only tuples/frozensets/lists/dicts) — so an op whose
behavior changed purely through a helper edit (e.g. _ivf_centroid_literal,
_word_shingles, parse_zip_entries) flags STALE mechanically instead of
relying on the builder grepping callers.

Remaining blind spots, kept OUT of the closure deliberately:
 - the _CLOSURE_PLUMBING modules (io/session/registry/config/errors):
   engine plumbing shared by every op — including them would make one
   io.py comment-adjacent edit stale all 380+ ops at once, which no
   50-slot window can absorb. When editing those, grep callers and judge
   staleness manually (the pre-r10 discipline).
 - module-level constants that are not scalar-composed (objects, compiled
   regexes, function tables): no deterministic repr. When editing one,
   treat its readers as stale manually.

Usage:
  python tools/stale_ops.py                    # report staleness
  python tools/stale_ops.py build-manifest \
      --round 1 --rev 9b82fee --correctness CORRECTNESS_r01.json \
      --round 2 --rev 5fe460e --correctness CORRECTNESS_r02.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "tools", "driver_row_manifest.json")

def op_source_hash(src: str, sql: str | None) -> str:
    """THE op staleness hash: closure source + oracle SQL. Single shared
    definition — tests/test_sweep_window.py imports this so the window gate
    can never silently fork from the manifest's scheme (ADVICE r5). ``src``
    should be ``op_closure_source(op.fn)`` (r10 scheme), which degrades to
    plain ``inspect.getsource`` when the function has no same-module refs."""
    return hashlib.sha256((src + "\x00" + (sql or "")).encode()).hexdigest()


def _const_repr(v) -> str | None:
    """Deterministic repr for IMMUTABLE module-level constants worth
    hashing by value: plain scalars and (nested) tuples/frozensets of
    them. MUTABLE containers (dicts/lists/sets) are deliberately NOT
    hashed by value — a runtime-populated module cache (e.g.
    _BPE_MERGE_CACHE) would make an op's hash depend on what ran earlier
    in the process (found the hard way: the window gate flaked when the
    full suite ran BPE ops first). They are hashed by their top-level
    ASSIGNMENT SOURCE instead (see _module_assign_sources), which is
    stable under runtime mutation but still changes when the constant is
    edited. Anything else (function tables, objects, compiled regexes —
    whose reprs can carry memory addresses) stays out of the hash; see
    the module docstring's blind-spot list."""
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
# imported by essentially every op — including them would let one io.py
# edit stale the entire registry at once (see module docstring).
_CLOSURE_PLUMBING = frozenset({"io", "session", "registry", "config", "errors"})

# The plumbing blind spot, made MECHANICAL (VERDICT r12 item 7: the r12
# io.table schema cache rewired all 382 ops' read path with zero STALE
# flags): these files are hashed as one "plumbing hash" stored in the
# manifest. When `stale` sees it moved, it demands the compensating
# full-registry replica-double battery instead of relying on the builder
# remembering the discipline.
_PLUMBING_FILES = ("config.py", "errors.py", "io.py", "registry.py", "session.py")


def plumbing_hash(repo_dir: str = REPO) -> str:
    """sha256 over the plumbing modules' file bytes (sorted, delimited)."""
    h = hashlib.sha256()
    for name in _PLUMBING_FILES:
        p = os.path.join(repo_dir, "bpspark", name)
        h.update(name.encode() + b"\x00")
        try:
            with open(p, "rb") as fh:
                h.update(fh.read())
        except OSError:
            h.update(b"<missing>")
        h.update(b"\x00")
    return h.hexdigest()

# Import-machinery module attributes EXCLUDED from the constant hash
# (VERDICT r11 What's-wrong 1): ``__file__`` is an ABSOLUTE path, so a
# body that references it (e.g. the addPyFile zip helper in
# bpspark/__init__.py, pulled into scan_python_datasource's closure via
# its function-local import) hashes differently from every checkout
# location — the manifest row, built via a temp git worktree, could then
# NEVER match the live tree and the op reported perpetually STALE. These
# attributes carry environment identity, not op semantics; edits to code
# that USES them still flag through the function-source hash.
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
    """The op's source PLUS its transitive package-wide helper closure
    (VERDICT r9 item 3, widened r10 after review): AST-walk the function
    body for referenced names, resolve them in the enclosing globals, and
    recursively append the source of every package-local (non-plumbing)
    function/class plus the repr of every scalar-composed module-level
    constant. Deterministic: helpers are visited DFS in sorted-name
    order, each emitted once, labeled module-qualified so same-named
    helpers in sibling modules don't shadow each other. A helper-body or
    data-constant edit thereby changes every caller's hash, flagging all
    its certified callers STALE.

    FUNCTION-LOCAL imports are part of the closure too (ADVICE r10): a
    name bound by ``from bpspark.X import helper`` INSIDE the op body is
    a local, not a global, so the Name walk alone cannot resolve it —
    each visited body's ``ast.ImportFrom`` nodes are therefore resolved
    via importlib into the same function/class-visit or constant-hash
    paths. Plumbing modules stay excluded here exactly as in the globals
    path. Remaining (documented) gap: ``import bpspark.X`` + attribute
    access inside a body — a pattern the package does not use (grep
    shows zero sites); if one ever lands, treat its readers as stale
    manually, as with non-scalar constants."""
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
        # Function-local imports (ADVICE r10): ``from bpspark.X import h``
        # inside the body binds a LOCAL name the globals lookup above
        # cannot see — resolve the imported module and route each alias
        # through the same handler. Only absolute package-local,
        # non-plumbing modules participate (mirrors _in_closure_scope).
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
            except Exception as exc:  # noqa: BLE001 — ADVICE r11: an
                # import that raises ANYTHING (env-dependent side
                # effects, not just ImportError) must surface as a
                # visible skip, not silently narrow the closure hash
                print(
                    f"warn: closure import {modname} failed ({exc!r}) — "
                    "its helpers are NOT in the staleness hash",
                    file=sys.stderr,
                )
                continue
            for alias in node.names:
                v = getattr(mod, alias.name, None)
                if v is not None:
                    handle(v, alias.name, mod, modname)

    visit(fn, f"{getattr(fn, '__module__', '')}.{getattr(fn, '__qualname__', '<fn>')}")
    return "\n".join(out)


# Runs inside a worktree checkout (old revs included) — keep it compatible
# with every registry version since round 1. Imports op_source_hash from
# THIS file (the current repo's tools dir), not the worktree's copy, so
# every hash in the manifest uses the one shared definition above.
_HASH_SNIPPET = r"""
import json, sys
sys.path.insert(0, {repo!r})
sys.path.insert(1, {tools!r})
from stale_ops import op_source_hash, op_closure_source
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
    """Source hash per op for the bpspark tree rooted at ``repo_dir``."""
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


def hash_ops_at_rev(rev: str) -> dict[str, str]:
    wt = tempfile.mkdtemp(prefix="bpspark_staleck_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, rev],
        cwd=REPO, check=True, capture_output=True,
    )
    try:
        return hash_ops_at(wt)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=REPO, check=True, capture_output=True,
        )


def valid_rows(correctness_path: str) -> set[str]:
    """Ops whose driver row actually certifies something: a hash/rows/schema
    check ran AND passed (err null with no false match flag — a hash-FAIL row
    like dedup_substring_spans r3 proves the opposite of certification), or
    the rows-only path recorded a count (err == 'no_oracle' with spark_rows
    populated)."""
    data = json.load(open(correctness_path))
    ok = set()
    for name, row in data.items():
        err = row.get("err")
        checks = (row.get("rows_match"), row.get("schema_match"), row.get("hash_match"))
        # require at least one check to have actually RUN (r8): a row with
        # err null and all three match fields null — e.g. a sweep cut short
        # after launch — must not certify the op as FRESH forever
        if err is None and False not in checks and any(c is not None for c in checks):
            ok.add(name)
        elif str(err).strip() == "no_oracle" and row.get("spark_rows") is not None:
            ok.add(name)
    return ok


def cmd_build_manifest(rounds: list[tuple[int, str, str]]) -> None:
    manifest: dict[str, dict] = {}
    ingested: list[str] = []
    for rnd, rev, cfile in sorted(rounds):
        ingested.append(os.path.basename(cfile))
        hashes = hash_ops_at_rev(rev)
        valid = valid_rows(cfile)
        # Newest driver evidence wins in BOTH directions: a later FAIL or
        # ERROR row also DECERTIFIES an earlier round's passing row —
        # otherwise an op that fails a re-sweep with unchanged source
        # would stay FRESH forever and never re-enter a window.
        attempted = set(json.load(open(cfile)))
        for name in sorted(attempted - valid):
            if manifest.pop(name, None) is not None:
                print(f"  r{rnd}: {name} failed/errored its latest sweep — earlier row decertified")
        for name in sorted(valid):
            if name not in hashes:
                print(f"  warn: r{rnd} row for {name} but op absent at {rev}")
                continue
            manifest[name] = {"round": rnd, "rev": rev, "source_hash": hashes[name]}
    manifest["__ingested_correctness__"] = {
        "round": -1, "rev": "", "source_hash": "", "files": sorted(ingested),
    }
    # Plumbing hash AT THE NEWEST SWEPT REV (VERDICT r12 item 7): the
    # io/session/registry/config/errors modules the closure hash excludes.
    # `stale` compares it to the live tree and, when moved, demands the
    # replica-double battery.
    last_round, last_rev, _ = max(rounds)
    wt = tempfile.mkdtemp(prefix="bpspark_plumbhash_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, last_rev],
        cwd=REPO, check=True, capture_output=True,
    )
    try:
        ph = plumbing_hash(wt)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=REPO, check=True, capture_output=True,
        )
    manifest["__plumbing__"] = {
        "round": last_round, "rev": last_rev, "source_hash": ph,
        "files": list(_PLUMBING_FILES),
    }
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    print(f"wrote {MANIFEST}: {len(manifest) - 2} ops with valid driver rows")


def cmd_stale() -> None:
    if not os.path.exists(MANIFEST):
        sys.exit(f"{MANIFEST} missing — run build-manifest first")
    manifest = json.load(open(MANIFEST))
    # Refuse to propose a window from a manifest that predates a driver
    # artifact (VERDICT r4 item 7: the r4 sweep's rows weren't ingested
    # and `stale` proposed the already-swept window again). Every
    # CORRECTNESS_r*.json in the repo root must have been build-manifest
    # input before the staleness report means anything.
    ingested = set(
        manifest.pop("__ingested_correctness__", {}).get("files", [])
    )
    plumbing = manifest.pop("__plumbing__", None)
    import glob

    present = {os.path.basename(p) for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))}
    missing = sorted(present - ingested)
    if missing:
        sys.exit(
            "manifest is STALE itself: driver artifact(s) not ingested: "
            + ", ".join(missing)
            + "\nrun build-manifest with every CORRECTNESS_r*.json (plus its"
            " snapshot rev) before generating a window"
        )
    # Plumbing gate (VERDICT r12 item 7): FRESH below is only trustworthy
    # while the closure-excluded plumbing is byte-identical to what the
    # manifest's newest sweep certified. A moved hash does not stale any
    # specific op (that is the point of the exclusion) — it demands the
    # full-registry replica-double battery, recorded in the round doc.
    if plumbing is None:
        print(
            "WARNING: manifest predates the plumbing hash — rebuild the "
            "manifest (build-manifest) to arm the plumbing gate."
        )
    elif plumbing["source_hash"] != plumbing_hash(REPO):
        print(
            "PLUMBING CHANGED since its last sweep "
            f"(r{plumbing['round']} @ {plumbing['rev']}): "
            f"{', '.join(plumbing.get('files', _PLUMBING_FILES))} are "
            "EXCLUDED from the closure hash, so no op below flags STALE "
            "for this change. REQUIRED compensation: run "
            "`python tools/driver_replica.py --double` (plus the sf0.1 "
            "scale sweep) and record it in the round's OPTIMIZATION/ "
            "round doc before trusting any FRESH row."
        )
    current = hash_ops_at(REPO)
    stale = [
        n for n, h in current.items()
        if n in manifest and manifest[n]["source_hash"] != h
    ]
    fresh = [
        n for n, h in current.items()
        if n in manifest and manifest[n]["source_hash"] == h
    ]
    never = [n for n in current if n not in manifest]
    print(f"FRESH  ({len(fresh)}): driver row still certifies current code")
    print(f"NEVER  ({len(never)}): no valid driver row yet")
    print(f"STALE  ({len(stale)}): impl changed AFTER its driver row — re-verify:")
    for n in stale:
        print(f"  {n}  (row from r{manifest[n]['round']} @ {manifest[n]['rev']})")
    # Window candidates: STALE + NEVER in registry priority order, but
    # oracle-backed (hash-certifiable) ops first within that order — a
    # rows-only driver row adds little over the local strict replica,
    # while a hash row is evidence the replica can't fake (VERDICT r4
    # item 6). The registry's hand-packed tier A should normally agree;
    # this line is the mechanical cross-check.
    sys.path.insert(0, REPO)
    from bpspark.registry import all_ops

    sql_backed = {n for n, o in all_ops().items() if o.sql is not None}
    todo = set(stale) | set(never)
    cand = sorted(
        (n for n in current if n in todo),
        key=lambda n: (n not in sql_backed, list(current).index(n)),
    )[:50]
    n_oracle = sum(1 for n in cand if n in sql_backed)
    print(
        f"\nnext-window candidates (oracle-backed first, then priority order;"
        f" {n_oracle}/{len(cand)} hash-certifiable): " + ", ".join(cand)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd")
    bm = sub.add_parser("build-manifest")
    bm.add_argument("--round", type=int, action="append", required=True)
    bm.add_argument("--rev", action="append", required=True)
    bm.add_argument("--correctness", action="append", required=True)
    sub.add_parser("stale")
    args = ap.parse_args()
    if args.cmd == "build-manifest":
        if not (len(args.round) == len(args.rev) == len(args.correctness)):
            ap.error("--round/--rev/--correctness must repeat together")
        cmd_build_manifest(list(zip(args.round, args.rev, args.correctness)))
    else:
        cmd_stale()


if __name__ == "__main__":
    main()
