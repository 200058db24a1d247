"""Packaging gates: pyproject metadata stays truthful and the package
imports from an installed-style location (no repo-checkout assumption).
"""

import os
import shutil
import subprocess
import sys
import tomllib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pyproject() -> dict:
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as f:
        return tomllib.load(f)


def test_version_in_sync():
    import datasketches_spark

    assert _pyproject()["project"]["version"] == datasketches_spark.__version__


def test_declared_deps_match_imports():
    """Every third-party import in the package appears in
    [project.dependencies] — a missing dep would break a pip install
    that this container (everything preinstalled) can't catch."""
    proj = _pyproject()["project"]
    deps = {d.split(">=")[0].split("==")[0].strip() for d in proj["dependencies"]}
    assert {"pyspark", "numpy", "pandas", "pyarrow"} <= deps
    # import-gated optional tiers: distribution name -> import name
    extra_mods = {"pillow": "PIL", "opencv-python-headless": "cv2"}
    for group in proj["optional-dependencies"].values():
        for d in group:
            dist = d.split(">=")[0].split("==")[0].strip()
            deps.add(extra_mods.get(dist, dist))
    import ast

    third_party = set()
    pkg_root = os.path.join(REPO, "datasketches_spark")
    for dirpath, _dirs, files in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    third_party.update(a.name.split(".")[0] for a in node.names)
                elif isinstance(node, ast.ImportFrom) and node.level == 0:
                    if node.module:
                        third_party.add(node.module.split(".")[0])
    stdlib = set(sys.stdlib_module_names)
    external = {
        m
        for m in third_party
        if m not in stdlib and m != "datasketches_spark"
    }
    assert external <= deps, external - deps


def test_declared_pyspark_floor_has_arrow_udf():
    """The SQL aggregates and scalars import ``arrow_udf`` at module
    load, and pyspark has it from 4.1: the declared floor says so."""
    (spec,) = [d for d in _pyproject()["project"]["dependencies"] if d.startswith("pyspark")]
    floor = tuple(int(p) for p in spec.split(">=")[1].split("."))
    assert floor >= (4, 1), spec


def test_all_subpackages_have_init():
    """setuptools find() drops any directory without __init__.py from
    the wheel silently — gate it."""
    pkg_root = os.path.join(REPO, "datasketches_spark")
    missing = []
    for dirpath, dirs, files in os.walk(pkg_root):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        if any(f.endswith(".py") for f in files) and "__init__.py" not in files:
            missing.append(dirpath)
    assert missing == []


def test_installed_style_import(tmp_path):
    """Copy the package to a bare site-dir and import it from a
    subprocess whose sys.path does NOT include the repo checkout —
    the pip-install smoke this container can't run for real."""
    site = tmp_path / "site"
    site.mkdir()
    shutil.copytree(
        os.path.join(REPO, "datasketches_spark"),
        site / "datasketches_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import os, sys;"
        f"assert not any(p.rstrip(os.sep).endswith('repo') for p in sys.path if p), sys.path;"
        "import datasketches_spark as d;"
        "from datasketches_spark.sketches.theta import ThetaSketch, theta_union;"
        "s = ThetaSketch(12);"
        "s.update_values(list(range(100)));"
        "assert abs(theta_union(s, s, 12).get_estimate() - 100) < 1e-9;"
        "print('OK', d.__version__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(site)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    import datasketches_spark

    assert out.stdout.strip() == f"OK {datasketches_spark.__version__}"
