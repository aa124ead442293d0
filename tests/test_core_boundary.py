"""The graph-database core stands apart from the curation tier:
importing it loads no ``ops`` or ``streaming`` module.  Every kept
script still imports."""

import subprocess
import sys

from tests.conftest import _ROOT

CORE_PACKAGES = ("plans", "reasoner", "kg", "functions", "language")
CORE_MODULES = ("engine", "queries.efo", "queries.reasoning")

_PROBE = f"""
import importlib, pkgutil, sys
mods = ["knovexlite_spark." + m for m in {CORE_MODULES!r}]
for name in {CORE_PACKAGES!r}:
    pkg = importlib.import_module("knovexlite_spark." + name)
    mods += [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for m in mods:
    importlib.import_module(m)
print(len(mods))
print(" ".join(sorted(m for m in sys.modules
                      if m.startswith(("knovexlite_spark.ops", "knovexlite_spark.streaming")))))
"""


def test_core_imports_load_no_curation_module():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=_ROOT, capture_output=True, text=True, check=True
    ).stdout.splitlines()
    assert int(out[0]) >= 20  # every core module was imported
    assert out[1:] == [""], out[1:]


_SCRIPTS_PROBE = """
import glob, importlib.util, os, sys
names = []
for path in sorted(glob.glob(os.path.join("scripts", "*.py"))):
    name = "script_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # module body only; main() stays unrun
    sys.modules[name] = mod
    names.append(name)
print(" ".join(names))
print(callable(getattr(sys.modules.get("script_scale_rehearsal"), "build_blowup", None)))
print("bench" in sys.modules)
"""


def test_every_script_imports():
    """Each ``scripts/*.py`` loads without running ``main``: a deletion
    elsewhere cannot leave a kept script with a dangling import."""
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPTS_PROBE], cwd=_ROOT, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    names, blowup, bench = out.stdout.splitlines()
    assert "script_scale_rehearsal" in names.split(), names
    assert blowup == "True"
    assert bench == "False"
