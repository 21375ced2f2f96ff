"""Closure-hash change detection behind ``tools/check_ops.py --changed``.

An op's closure hash covers its body, its oracle SQL and every package
helper and module constant it reaches, so any edit that can change what
the op computes changes its hash, and ``--changed REV`` re-checks it.
"""

from __future__ import annotations

import os


def test_helper_edit_flags_caller_stale(tmp_path):
    """VERDICT r9 item 3: the staleness hash must cover the transitive
    same-module helper closure — editing ONLY a helper body (op function
    byte-identical) must change every caller's hash."""
    import importlib.util
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import op_closure_source, op_source_hash

    def load(version: str, body: str):
        p = tmp_path / f"fakemod_{version}.py"
        p.write_text(
            "K_CONST = 7\n\n"
            "def _inner(x):\n"
            f"    {body}\n\n"
            "def _helper(x):\n"
            "    return _inner(x) + K_CONST\n\n"
            "def the_op(x):\n"
            "    return _helper(x) * 2\n"
        )
        spec = importlib.util.spec_from_file_location(f"fakemod_{version}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    import inspect

    m1 = load("v1", "return x + 1")
    m2 = load("v2", "return x - 1")  # ONLY the 2nd-level helper differs
    assert inspect.getsource(m1.the_op) == inspect.getsource(m2.the_op)
    assert inspect.getsource(m1._helper) == inspect.getsource(m2._helper)
    c1, c2 = op_closure_source(m1.the_op), op_closure_source(m2.the_op)
    assert "K_CONST = 7" in c1 and "_inner" in c1  # closure includes both
    assert op_source_hash(c1, None) != op_source_hash(c2, None)

    # a module-level constant edit must flag too
    p3 = tmp_path / "fakemod_v3.py"
    p3.write_text((tmp_path / "fakemod_v1.py").read_text().replace("K_CONST = 7", "K_CONST = 8"))
    spec = importlib.util.spec_from_file_location("fakemod_v3", p3)
    m3 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m3)
    assert op_source_hash(op_closure_source(m3.the_op), None) != op_source_hash(c1, None)


def test_mutable_constant_hash_is_runtime_stable_but_edit_sensitive(tmp_path):
    """r10 review follow-up: dict/list module constants are hashed by
    ASSIGNMENT SOURCE, so (a) runtime mutation (module caches filling up
    mid-process) must NOT change an op's hash, while (b) editing the
    constant's source must."""
    import importlib.util
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import op_closure_source

    def load(version: str, src: str):
        p = tmp_path / f"fakemut_{version}.py"
        p.write_text(src)
        spec = importlib.util.spec_from_file_location(f"fakemut_{version}", p)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod  # inspect.getmodule needs the registry
        spec.loader.exec_module(mod)
        return mod

    base = (
        "_CACHE = {}\n"
        "MARKERS = {'en': 'the', 'de': 'der'}\n\n"
        "def the_op(x):\n"
        "    _CACHE[x] = MARKERS.get(x)\n"
        "    return _CACHE[x]\n"
    )
    m = load("v1", base)
    h1 = op_closure_source(m.the_op)
    m._CACHE["runtime"] = "junk"  # cache fills mid-process
    assert op_closure_source(m.the_op) == h1, "runtime mutation changed the hash"
    # both constants' assignment sources are in the closure
    assert "_CACHE = {}" in h1 and "MARKERS = {'en': 'the', 'de': 'der'}" in h1

    m2 = load("v2", base.replace("'de': 'der'", "'de': 'und'"))
    assert op_closure_source(m2.the_op) != h1, "constant edit did not flag"


def test_function_local_import_flags_caller_stale(tmp_path):
    """ADVICE r10 (medium): a helper bound by ``from pkg.mod import h``
    INSIDE the op body is a local name — the globals walk can't see it.
    Editing ONLY that helper (op byte-identical) must still change the
    caller's closure hash; same for a function-locally-imported mutable
    constant. Mirrors the real pattern (selection.py imports llm_ops
    helpers inside op bodies)."""
    import importlib
    import inspect
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import op_closure_source, op_source_hash

    def build(version: str, helper_body: str, cache_init: str = "{}"):
        pkgdir = tmp_path / f"fakepkg_{version}"
        pkgdir.mkdir()
        (pkgdir / "__init__.py").write_text("")
        (pkgdir / "helpers.py").write_text(
            f"_LOCAL_CACHE = {cache_init}\n\n"
            "def _deep(x):\n"
            f"    {helper_body}\n\n"
            "def imported_helper(x):\n"
            "    return _deep(x) + len(_LOCAL_CACHE)\n"
        )
        (pkgdir / "ops.py").write_text(
            "def the_op(x):\n"
            f"    from fakepkg_{version}.helpers import _LOCAL_CACHE, imported_helper\n"
            "    return imported_helper(x)\n"
        )
        sys.path.insert(0, str(tmp_path))
        try:
            mod = importlib.import_module(f"fakepkg_{version}.ops")
        finally:
            sys.path.remove(str(tmp_path))
        return mod

    m1 = build("v1", "return x + 1")
    m2 = build("v2", "return x - 1")  # ONLY the 2nd-level helper differs
    # op bodies are identical up to the package name
    s1 = inspect.getsource(m1.the_op).replace("fakepkg_v1", "PKG")
    s2 = inspect.getsource(m2.the_op).replace("fakepkg_v2", "PKG")
    assert s1 == s2
    c1 = op_closure_source(m1.the_op).replace("fakepkg_v1", "PKG")
    c2 = op_closure_source(m2.the_op).replace("fakepkg_v2", "PKG")
    # the transitive closure through the local import is present
    assert "imported_helper" in c1 and "_deep" in c1 and "_LOCAL_CACHE = {}" in c1
    assert op_source_hash(c1, None) != op_source_hash(c2, None)

    # a function-locally-imported mutable constant edit must flag too —
    # and runtime mutation of it must NOT
    m3 = build("v3", "return x + 1", cache_init="{'seed': 1}")
    c3 = op_closure_source(m3.the_op).replace("fakepkg_v3", "PKG")
    assert op_source_hash(c3, None) != op_source_hash(c1, None)
    helpers3 = sys.modules["fakepkg_v3.helpers"]
    helpers3._LOCAL_CACHE["runtime"] = "junk"
    assert op_closure_source(m3.the_op).replace("fakepkg_v3", "PKG") == c3

    for v in ("v1", "v2", "v3"):
        sys.modules.pop(f"fakepkg_{v}.ops", None)
        sys.modules.pop(f"fakepkg_{v}.helpers", None)
        sys.modules.pop(f"fakepkg_{v}", None)
        shutil.rmtree(tmp_path / f"fakepkg_{v}", ignore_errors=True)


def test_closure_hash_excludes_path_dunders(tmp_path):
    """VERDICT r11 What's-wrong 1: a body referencing ``__file__`` (the
    addPyFile zip helper pattern) must NOT pull the checkout's absolute
    path into the closure hash — otherwise hashing another checkout
    (``check_ops.py --changed`` exports REV to a temp dir) can never match
    the live tree and the op always reads as changed. Loading
    byte-identical source from two different directories must produce
    byte-identical closure source."""
    import importlib
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import op_closure_source

    PKG_SRC = {
        "__init__.py": (
            "import pathlib\n\n"
            "def zip_helper():\n"
            "    return pathlib.Path(__file__).parent\n"
        ),
        "ops.py": (
            "def the_op(x):\n"
            "    from {pkg} import zip_helper\n"
            "    return (zip_helper(), x)\n"
        ),
    }

    def build(version: str, root) -> object:
        pkg = f"fakepath_{version}"
        pkgdir = root / pkg
        pkgdir.mkdir(parents=True)
        for fname, src in PKG_SRC.items():
            (pkgdir / fname).write_text(src.format(pkg=pkg))
        sys.path.insert(0, str(root))
        try:
            return importlib.import_module(f"{pkg}.ops")
        finally:
            sys.path.remove(str(root))

    # same package NAME and bytes, two different checkout locations
    m1 = build("vA", tmp_path / "checkout_one")
    m2 = build("vB", tmp_path / "checkout_two" / "nested" / "deep")
    c1 = op_closure_source(m1.the_op).replace("fakepath_vA", "PKG")
    c2 = op_closure_source(m2.the_op).replace("fakepath_vB", "PKG")
    assert "zip_helper" in c1                 # the helper itself IS hashed
    assert "__file__ = " not in c1            # but not the absolute path
    assert str(tmp_path) not in c1
    assert c1 == c2, "closure source depends on checkout location"

    for v in ("vA", "vB"):
        sys.modules.pop(f"fakepath_{v}.ops", None)
        sys.modules.pop(f"fakepath_{v}", None)
    shutil.rmtree(tmp_path / "checkout_one", ignore_errors=True)
    shutil.rmtree(tmp_path / "checkout_two", ignore_errors=True)


def test_registry_hashes_are_checkout_location_independent(tmp_path):
    """End-to-end second-checkout regression: hashing the FULL live
    registry from a copy of the tree at a different absolute path must
    give byte-identical hashes for every op. ``check_ops.py --changed``
    hashes REV from a temp export, so equality here is what keeps an
    unchanged op out of its selection. Editing one op body in the copy
    must then change exactly that op's hash — proof that each call
    hashed the tree it was given, not the live one twice."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import REPO, hash_ops_at

    second = tmp_path / "second_checkout"
    second.mkdir()
    shutil.copytree(os.path.join(REPO, "bpspark"), second / "bpspark",
                    ignore=shutil.ignore_patterns("__pycache__"))

    live = hash_ops_at(REPO)
    other = hash_ops_at(str(second))
    assert set(live) == set(other)
    diff = sorted(n for n in live if live[n] != other[n])
    assert diff == [], f"checkout-location-dependent hashes: {diff}"

    _edit_op_body(second, "scan_parquet")
    edited = hash_ops_at(str(second))
    assert sorted(n for n in live if live[n] != edited[n]) == ["scan_parquet"]


def _edit_op_body(root, name: str) -> None:
    """Append a comment to the last line of op ``name``'s function in the
    ``bpspark/`` tree under ``root``."""
    import inspect

    from bpspark.registry import all_ops

    fn = all_ops()[name].fn
    path = root / "bpspark" / os.path.basename(inspect.getsourcefile(fn))
    src = inspect.getsource(fn)
    text = path.read_text()
    assert text.count(src) == 1
    path.write_text(text.replace(src, src.rstrip("\n") + "  # edited\n"))


def test_changed_selects_new_and_edited_ops_or_all_on_plumbing(tmp_path):
    """``check_ops.py --changed REV`` selects exactly the ops whose
    closure hash moved since REV: an edited op and a newly registered op,
    not the unchanged rest. Any diff in a plumbing module (outside the
    closure hash) selects every op and says why."""
    import shutil
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_ops import REPO, changed_ops

    repo = tmp_path / "repo"
    repo.mkdir()
    shutil.copytree(os.path.join(REPO, "bpspark"), repo / "bpspark",
                    ignore=shutil.ignore_patterns("__pycache__"))

    def git(*args: str) -> None:
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=repo, check=True, capture_output=True,
        )

    git("init", "-q")
    git("add", "-A")
    git("commit", "-qm", "base")

    _edit_op_body(repo, "scan_parquet")
    with open(repo / "bpspark" / "relational.py", "a") as fh:
        fh.write(
            "\n\n@op(\"zz_new_op\", sql=\"SELECT 1 AS x\")\n"
            "def zz_new_op(spark: SparkSession, sf: str) -> DataFrame:\n"
            "    return spark.range(1)\n"
        )
    names, why = changed_ops("HEAD", repo=str(repo))
    assert sorted(names) == ["scan_parquet", "zz_new_op"], why
    assert "plumbing" not in why

    with open(repo / "bpspark" / "io.py", "a") as fh:
        fh.write("# plumbing edit\n")
    names, why = changed_ops("HEAD", repo=str(repo))
    assert "plumbing" in why and "bpspark/io.py" in why
    assert len(names) == len(set(names)) and "zz_new_op" in names
    from bpspark.registry import all_ops

    assert set(names) == set(all_ops()) | {"zz_new_op"}
