"""No hidden switches: the package and the driver entry read only the
deployment environment variables listed here. A behavior toggle belongs in
``ExtractionSettings`` or a function parameter, where callers and tests can
see it."""

import ast
from pathlib import Path

import pyradiomics_spark

#: session.get_spark: the local core count, the driver heap, and the
#: BLAS/OpenMP thread-count defaults it sets before workers fork
ALLOWED = {
    "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS",
}

PKG = Path(pyradiomics_spark.__file__).parent
ENTRY = PKG.parent / "__spark_entry__.py"


def _is_environ(node) -> bool:
    return ((isinstance(node, ast.Attribute) and node.attr == "environ")
            or (isinstance(node, ast.Name) and node.id == "environ"))


def _is_getenv(node) -> bool:
    return ((isinstance(node, ast.Attribute) and node.attr == "getenv")
            or (isinstance(node, ast.Name) and node.id == "getenv"))


def _loop_values(tree) -> dict:
    """{loop variable: its string constants} for ``for v in ("A", "B")``."""
    out: dict = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.For) and isinstance(node.target, ast.Name)
                and isinstance(node.iter, (ast.Tuple, ast.List))
                and all(isinstance(e, ast.Constant) and isinstance(e.value, str)
                        for e in node.iter.elts)):
            out.setdefault(node.target.id, set()).update(
                e.value for e in node.iter.elts)
    return out


def _key_names(key, loops) -> set | None:
    """The variable names a key expression can take, or None if unknown."""
    if isinstance(key, ast.Constant) and isinstance(key.value, str):
        return {key.value}
    if isinstance(key, ast.Name) and key.id in loops:
        return loops[key.id]
    return None


def env_reads(source: str) -> list:
    """[(line, names or None)] for every environment access in ``source``:
    ``os.environ[...]``, ``os.environ.get/setdefault/pop(...)``,
    ``... in os.environ`` and ``os.getenv(...)``. Any other use of
    ``os.environ`` (a copy, a whole-mapping pass) reports None."""
    tree = ast.parse(source)
    loops = _loop_values(tree)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _is_getenv(node.func):
            key = node.args[0] if node.args else None
            reads.append((node.lineno, _key_names(key, loops)))
        elif _is_environ(node):
            if isinstance(node, ast.Attribute) and not (
                    isinstance(node.value, ast.Name) and node.value.id == "os"):
                continue  # some other object's .environ
            parent = parents.get(node)
            key = None
            if isinstance(parent, ast.Subscript) and parent.value is node:
                key = parent.slice
            elif (isinstance(parent, ast.Attribute)
                  and parent.attr in ("get", "setdefault", "pop")):
                call = parents.get(parent)
                if isinstance(call, ast.Call) and call.args:
                    key = call.args[0]
            elif (isinstance(parent, ast.Compare)
                  and isinstance(parent.ops[0], (ast.In, ast.NotIn))):
                key = parent.left
            reads.append((node.lineno,
                          None if key is None else _key_names(key, loops)))
    return sorted(reads, key=lambda r: r[0])


def test_scanner_sees_every_read_form():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = getenv('C')\n"
        "d = 'D' in environ\n"
        "for v in ('E', 'F'):\n"
        "    os.environ.setdefault(v, '1')\n"
        "g = dict(os.environ)\n"
        "h = os.getenv(name)\n"
    )
    assert env_reads(src) == [
        (3, {"A"}), (4, {"B"}), (5, {"C"}), (6, {"D"}), (8, {"E", "F"}),
        (9, None), (10, None)]


def _bad_reads(path: Path) -> list:
    bad = []
    for line, names in env_reads(path.read_text()):
        where = f"{path.relative_to(PKG.parent)}:{line}"
        if names is None:
            bad.append(f"{where}: environment access with no literal name")
        elif names - ALLOWED:
            bad.append(f"{where}: {sorted(names - ALLOWED)}")
    return bad


def test_package_reads_only_allowlisted_env_vars():
    bad = [b for path in sorted(PKG.rglob("*.py")) for b in _bad_reads(path)]
    assert not bad, bad


def test_entry_reads_only_allowlisted_env_vars():
    assert not _bad_reads(ENTRY), _bad_reads(ENTRY)
