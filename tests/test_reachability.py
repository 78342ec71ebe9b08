"""No package definition should exist only so its own test can run.

A static reachability walk over the package (no Spark). The roots are
every ``queries_ext.register()`` call, ``__main__``,
``__spark_entry__.py``, ``bench.py``, ``tools/`` and ``perfbench/``.
From them the walk follows every name a reached definition reads:
plain names through the module's own definitions and its imports, and
``module.attr`` chains through module aliases. A module's top-level
statements other than definitions run when any of its names is reached.
Tests are not roots, ``perfbench/tests/`` included.

Every top-level function, class and constant in every package module
that the walk does not reach must be in ``ALLOWED`` with the reason it
stays; dunder metadata (``__all__``, ``__version__``) is not judged. A
new unreached definition fails here: delete it with its tests, wire it
into a root, or add it to ``ALLOWED`` with the path it guards.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "impala_base_to_cdw_sizing_spark"
JUDGED = (PKG,)
ROOT_FILES = ("__spark_entry__.py", "bench.py", "tools", "perfbench", f"{PKG}/__main__.py")
REGISTER = (f"{PKG}.operators.queries_ext", "register")

# Unreached on purpose; each entry names the path it guards.
ALLOWED: dict[str, str] = {
    "operators.derive.DERIVED_COLUMNS": (
        "the column list of the live derive(); the derive parity fuzz tests "
        "(test_derive_parity_fuzz, test_params_fuzz) select it"
    ),
    "operators.profiling.q_analyze_stats": (
        "one-scan ANALYZE statistics pass (per-column nulls, min/max, approx "
        "NDV), the statistics-collection capability of operators/profiling; "
        "test_profiling pins its bounds and scan count"
    ),
    "operators.profiling._PROFILE_COLS": "column list of q_analyze_stats (test_profiling)",
    "operators.relational.setops_via_native_operators": (
        "native INTERSECT/EXCEPT reference that test_relational compares the "
        "declared single-pass rel_setops with"
    ),
    "operators.sampling.q_pack_sequences_plain": (
        "single-window reference that test_round2 compares the declared "
        "salted sample_pack_sequences with"
    ),
    "operators.similarity.cosine_pandas_udf": (
        "Pandas-UDF cosine that test_mm_features checks against the SPARK_DOT "
        "expression form the declared ANN queries use"
    ),
    "operators.sketch_sets.q_kmv_sliding": (
        "batch reference of streaming/kmv_stream.py in test_kmv_stream"
    ),
    "operators.sketch_sets.kmv_sliding_from_sketch": (
        "the sliding-window merge shared by q_kmv_sliding and the "
        "test_kmv_stream stream-vs-batch check"
    ),
    "operators.sketch_sets._SLIDE_HOURS": "window length of q_kmv_sliding (test_kmv_stream)",
    "operators.text._CC_ITERS": (
        "horizon of the unrolled label propagation that test_round2 compares "
        "the declared converged connected components with"
    ),
    "sinks.layout.write_partitioned": (
        "partitioned sink, the write half of ingestion with pushdown "
        "(PAPER.md), a stated capability; test_partition_pruning pins it"
    ),
    "sinks.layout.read_partitioned": (
        "partition-pruned read of write_partitioned output, ingestion with "
        "pushdown (PAPER.md), a stated capability; test_partition_pruning "
        "checks static and dynamic pruning on it"
    ),
    "sources.files.read_query_history": (
        "multi-format (csv/json/parquet/orc) replay reader, a stated "
        "capability; test_catalog_formats round-trips it"
    ),
    "sources.files.read_query_history_with_quarantine": (
        "replay reader that quarantines malformed rows with their raw line "
        "instead of dropping them, an ingestion capability; "
        "test_catalog_formats::test_corrupt_record_quarantine pins it"
    ),
    "streaming.neardup_stream.neardup_candidates_batch": (
        "batch reference that test_streaming_neardup and test_random_microbatch "
        "compare the TTL near-dup stream (reached from bench.py --streaming) with"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> dict[str, Path]:
    files = list((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += list((REPO / "tools").rglob("*.py")) + list((REPO / "perfbench").rglob("*.py"))
    return {_module_name(p): p for p in files if "tests" not in p.relative_to(REPO).parts}


class _Module:
    def __init__(self, name: str, path: Path, known: set[str]):
        self.name = name
        self.path = str(path.relative_to(REPO))
        self.is_pkg = path.name == "__init__.py"
        tree = ast.parse(path.read_text(), filename=str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        self.imports: dict[str, set[tuple[str, str | None]]] = {}
        self.body: list[ast.AST] = []
        self.calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
        self._collect(tree.body)
        # Function-local imports count as module-wide aliases; an alias
        # bound to two targets in two functions reaches both.
        for s in ast.walk(tree):
            if isinstance(s, ast.Import):
                for a in s.names:
                    alias = a.asname or a.name.split(".")[0]
                    self.imports.setdefault(alias, set()).add((a.name if a.asname else alias, None))
            elif isinstance(s, ast.ImportFrom):
                base = self._absolute(s)
                for a in s.names:
                    sub = f"{base}.{a.name}"
                    target = (sub, None) if sub in known else (base, a.name)
                    self.imports.setdefault(a.asname or a.name, set()).add(target)

    def _collect(self, stmts: list[ast.stmt]) -> None:
        """Top-level definitions, looking into ``if``/``try`` blocks;
        other statements (imports aside) run when the module loads."""
        for s in stmts:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(s.name, []).append(s)
            elif isinstance(s, (ast.Assign, ast.AnnAssign)):
                targets = s.targets if isinstance(s, ast.Assign) else [s.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                for n in names:
                    self.defs.setdefault(n, []).append(s)
                if not names:
                    self.body.append(s)
            elif isinstance(s, ast.If):
                self.body.append(s.test)
                self._collect(s.body + s.orelse)
            elif isinstance(s, ast.Try):
                self._collect(s.body + s.orelse + s.finalbody)
                for h in s.handlers:
                    self._collect(h.body)
            elif not isinstance(s, (ast.Import, ast.ImportFrom)):
                self.body.append(s)

    def _absolute(self, s: ast.ImportFrom) -> str:
        if not s.level:
            return s.module or ""
        parts = self.name.split(".")
        if not self.is_pkg:
            parts.pop()
        parts = parts[: len(parts) - (s.level - 1)]
        return ".".join(parts + ([s.module] if s.module else []))


class _Walk:
    def __init__(self) -> None:
        paths = _sources()
        known = set(paths)
        self.mods = {name: _Module(name, p, known) for name, p in paths.items()}
        self.reached: set[tuple[str, str]] = set()
        self.loaded: set[str] = set()
        self.todo: list[tuple[str, ast.AST]] = []
        self._run()

    def resolve(self, mod: str, node: ast.AST) -> set[tuple[str, str | None]]:
        """Every (module, name) that a Name or a dotted Attribute chain
        may read; name None is the module itself."""
        if isinstance(node, ast.Name):
            m = self.mods.get(mod)
            if m is None:
                return set()
            if node.id in m.defs:
                return {(mod, node.id)}
            return m.imports.get(node.id, set())
        if isinstance(node, ast.Attribute):
            out = set()
            for bmod, bname in self.resolve(mod, node.value):
                if bname is None:
                    sub = f"{bmod}.{node.attr}"
                    out.add((sub, None) if sub in self.mods else (bmod, node.attr))
            return out
        return set()

    def reach(self, mod: str, name: str | None) -> None:
        m = self.mods.get(mod)
        if m is None:
            return
        if mod not in self.loaded:
            self.loaded.add(mod)
            self.todo += [(mod, s) for s in m.body]
            parent = mod.rpartition(".")[0]
            if parent:
                self.reach(parent, None)
        if name is None or (mod, name) in self.reached:
            return
        self.reached.add((mod, name))
        if name in m.defs:
            self.todo += [(mod, d) for d in m.defs[name]]
        else:
            for target in m.imports.get(name, ()):
                self.reach(*target)

    def _run(self) -> None:
        for mod, m in self.mods.items():
            for call in m.calls:
                if REGISTER in self.resolve(mod, call.func):
                    self.todo += [(mod, a) for a in call.args + [k.value for k in call.keywords]]
            if m.path.startswith(ROOT_FILES):
                self.reach(mod, None)
                for name in m.defs:
                    self.reach(mod, name)
        while self.todo:
            mod, node = self.todo.pop()
            for n in ast.walk(node):
                if isinstance(n, (ast.Name, ast.Attribute)):
                    for target in self.resolve(mod, n):
                        self.reach(*target)

    def unreached(self) -> set[str]:
        return {
            f"{mod.removeprefix(PKG + '.')}.{name}"
            for mod, m in self.mods.items()
            if mod.startswith(JUDGED)
            for name in m.defs
            if (mod, name) not in self.reached
            and not (name.startswith("__") and name.endswith("__"))
        }


def test_no_operator_is_reached_only_by_its_tests():
    walk = _Walk()
    unreached = walk.unreached()
    extra = sorted(unreached - set(ALLOWED))
    stale = sorted(set(ALLOWED) - unreached)
    assert not extra, (
        f"definitions no register() call, CLI, entry, bench, tool or perfbench "
        f"path reaches: {extra} — delete them with their tests, or add each to "
        "ALLOWED with the path it guards"
    )
    assert not stale, f"ALLOWED entries that are now reached or gone: {stale}"


def test_every_allowed_reason_names_an_existing_test_file():
    for name, reason in ALLOWED.items():
        named = re.findall(r"\btest_\w+", reason)
        assert any((REPO / "tests" / f"{t}.py").exists() for t in named), (
            f"ALLOWED[{name!r}] names no existing tests/test_*.py file"
        )


def test_walk_sees_through_imports_and_module_attributes():
    walk = _Walk()
    # reached only through `files.read_query_history_csv` in __main__ and perfbench
    assert (f"{PKG}.sources.files", "read_query_history_csv") in walk.reached
    # reached through a register() argument
    assert (f"{PKG}.operators.relational", "q_tpch_q9") in walk.reached
