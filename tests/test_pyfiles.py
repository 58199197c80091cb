"""The ``--py-files`` artifact is built from the source tree, not committed:
``scripts/make_pyfiles.build`` must pack exactly the package's ``.py``
files, byte for byte."""

import importlib.util
import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _make_pyfiles():
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", ROOT / "scripts" / "make_pyfiles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_pyfiles_zip_holds_exactly_the_package_sources(tmp_path):
    out = _make_pyfiles().build(str(tmp_path))
    assert pathlib.Path(out).parent == tmp_path
    want = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "graph_python_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(out) as z:
        got = {name: z.read(name) for name in z.namelist()}
    assert want
    assert got.keys() == want.keys()
    for name, data in want.items():
        assert got[name] == data, name
