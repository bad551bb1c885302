"""The spark-submit --py-files packaging path (north_rule: 'run via
spark-submit --py-files'): the zip must build, contain EVERY package
module (a stale zip that silently omits new operators is exactly the
failure a cluster user hits first), and be importable from the archive
alone via zipimport — which is how executors will see it."""

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_builds_fresh_and_complete():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import make_package
    finally:
        sys.path.pop(0)
    out = make_package.main()
    with zipfile.ZipFile(out) as z:
        zipped = {n for n in z.namelist() if n.endswith(".py")}
    on_disk = set()
    pkg_root = os.path.join(ROOT, "deduplication_framework_spark")
    for dirpath, _, files in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                on_disk.add(os.path.relpath(full, ROOT))
    assert zipped == on_disk, (
        f"zip out of sync: missing {on_disk - zipped}, stale {zipped - on_disk}"
    )


def test_zip_importable_via_zipimport():
    out = os.path.join(ROOT, "dist", "deduplication_framework_spark.zip")
    if not os.path.exists(out):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        try:
            import make_package
        finally:
            sys.path.pop(0)
        make_package.main()
    # fresh interpreter with the ZIP (not the repo) on sys.path, the way
    # --py-files delivers code to executors
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import deduplication_framework_spark as d; "
        "from deduplication_framework_spark.operators.srp import srp_bands; "
        "from deduplication_framework_spark.functions import kernels; "
        "assert 'zip' in d.__file__, d.__file__; print('ok')"
        % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",  # not the repo root, so the zip is the only source
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "ok"


def test_spark_submit_py_files_e2e():
    """The real wire: spark-submit ships the zip via --py-files, the
    driver (tools/submit_smoke.py) strips the repo checkout from
    sys.path, asserts the package resolved from the zip, and runs the
    synthetic exact+minhash pipeline end to end."""
    import json
    import shutil
    import tempfile

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        import pytest

        pytest.skip("no spark-submit binary in this environment")
    zip_path = os.path.join(ROOT, "dist", "deduplication_framework_spark.zip")
    if not os.path.exists(zip_path):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        try:
            import make_package
        finally:
            sys.path.pop(0)
        make_package.main()
    tmp = tempfile.mkdtemp(prefix="submit-smoke-")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEM="4g")
    r = subprocess.run(
        [
            submit,
            "--py-files",
            zip_path,
            os.path.join(ROOT, "tools", "submit_smoke.py"),
            "--synthetic",
            "200",
            "--output",
            os.path.join(tmp, "out"),
            "--checkpoint-dir",
            os.path.join(tmp, "ckpt"),
            "--detectors",
            "exact,minhash",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 200 and summary["keepers"] > 0


def _unused_imports(path):
    """Names a module imports but never loads (``__all__`` entries count
    as loads). ``ast`` parses f-string expressions, so a name used only
    inside an f-string counts as used."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read(), path)
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                if node.module != "__future__" and a.name != "*":
                    imported[a.asname or a.name] = node.lineno
    used = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value
                for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    unused = [(ln, name) for name, ln in imported.items() if name not in used]
    return sorted(unused)


def test_no_unused_imports():
    """Every name imported by a package, ``tools/`` or ``tests/`` module
    (``__init__.py`` files excepted: they import to re-export) is used in
    that module."""
    hits = []
    for top in ("deduplication_framework_spark", "tools", "tests"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py") and f != "__init__.py":
                    path = os.path.join(dirpath, f)
                    rel = os.path.relpath(path, ROOT)
                    hits += [
                        f"{rel}:{ln} {n}" for ln, n in _unused_imports(path)
                    ]
    assert not hits, "unused imports:\n" + "\n".join(hits)


def _calls(path):
    """``(enclosing function, called name)`` for every call in ``path``:
    the innermost enclosing ``def`` (``<module>`` outside any), and the
    call's bare name or attribute, import aliases resolved; a method call
    on a bare name reads ``obj.attr``."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read(), path)
    alias = {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.asname
    }
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.Call):
                f = child.func
                if isinstance(f, ast.Name):
                    out.append((inner, alias.get(f.id, f.id)))
                elif isinstance(f, ast.Attribute):
                    out.append((inner, f.attr))
                    if isinstance(f.value, ast.Name):
                        out.append((inner, f"{f.value.id}.{f.attr}"))
            visit(child, inner)

    visit(tree, "<module>")
    return out


def test_one_composition_of_the_pipeline():
    """The paper's steps are composed once: one package function calls
    the JVM MinHash featurizer, only ``operators/verify.py`` builds the
    sorted-Jaccard UDF, and the API facade hands clustering, keepers,
    banding and stage commits to the pipeline instead of rebuilding
    them."""
    pkg = os.path.join(ROOT, "deduplication_framework_spark")
    jvm_callers, jaccard_udf_files = set(), set()
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, ROOT)
            for fn, name in _calls(path):
                if name == "jvm_minhash_features":
                    jvm_callers.add(f"{rel}::{fn}")
                if name == "make_sorted_jaccard_udf":
                    jaccard_udf_files.add(rel)
    assert len(jvm_callers) == 1, sorted(jvm_callers)
    assert jaccard_udf_files == {
        os.path.join("deduplication_framework_spark", "operators", "verify.py")
    }
    banned = {
        "clusters_from_edges", "keepers", "candidate_pairs", "minhash_bands",
        "store.write",
    }
    api = os.path.join(pkg, "api.py")
    hits = sorted({name for _, name in _calls(api)} & banned)
    assert not hits, f"api.py rebuilds pipeline steps: {hits}"


def test_driver_frames_built_only_by_local_frame():
    """No package module calls ``createDataFrame`` except
    ``session.local_frame``: a frame from a list of Python rows is a
    pickled RDD whose first action starts a resident Python daemon plus
    one worker per core (an empty list too), while ``local_frame`` hands
    over an Arrow table and starts none."""
    pkg = os.path.join(ROOT, "deduplication_framework_spark")
    callers = set()
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, ROOT)
                callers |= {
                    f"{rel}::{fn}"
                    for fn, name in _calls(path)
                    if name == "createDataFrame"
                }
    assert callers == {
        os.path.join("deduplication_framework_spark", "session.py")
        + "::local_frame"
    }, sorted(callers)


def test_local_checkpoint_only_in_the_cut():
    """No package module calls ``localCheckpoint`` except
    ``connected_components._stats_bounded_local_ckpt``: a raw checkpoint
    copies its child plan's size estimate (a join's is the product of
    its sides') and counts nothing, while the cut carries statistics
    from the bytes it observed and ``lsh._cut`` registers its release."""
    pkg = os.path.join(ROOT, "deduplication_framework_spark")
    callers = set()
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, ROOT)
                callers |= {
                    f"{rel}::{fn}"
                    for fn, name in _calls(path)
                    if name == "localCheckpoint"
                }
    assert callers == {
        os.path.join("deduplication_framework_spark", "operators",
                     "connected_components.py")
        + "::_stats_bounded_local_ckpt"
    }, sorted(callers)
