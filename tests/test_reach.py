"""Reach census: every top-level def in the package is reached from a
production root, or is allow-listed below with its reason.

The roots are the registered queries, every def of ``pipeline``, the
whole of ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
``tools/``, and each package module's module-level code (decorators
and class bodies included). Reach follows names in code: a bare name
resolves in its module or through its imports, ``mod.attr`` through
the import that bound ``mod``, and ``x.attr`` on an unknown ``x``
matches every package def called ``attr``, so liveness is
over-counted, never under-counted. ``pq.read_table`` reaches nothing,
because ``pq`` is bound to a module outside the package. Strings,
docstrings included, reach nothing.

No Spark session is started. ``python tests/test_reach.py`` prints
the census.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "polygon_daily_market_data_pipeline_spark"
ROOT_FILES = ["__spark_entry__.py", "bench.py", "perfbench/*.py", "tools/*.py"]

# Defs no root reaches that stay, by group. Each entry is
# "module.def" relative to the package.
API_ONLY = {
    # ROADMAP item 5's crash-point sweep covers both; tests drive the
    # CHECK, generated-column, diff and DV promises through them, and
    # optimize_compact(zorder_by=) cannot rewrite one large dir into n files.
    "operators.versioned.optimize_zorder": "item 5 sweep; one dir into n z-ordered files",
    "operators.versioned.update_version_where": "item 5 sweep; the only copy-on-write UPDATE",
    # The only undo of a live create or set; a live branch or tag blocks vacuum.
    "operators.versioned.drop_branch": "only undo of create_branch",
    "operators.versioned.drop_tag": "only undo of create_tag",
    "operators.governance.drop_masking_policy": "only undo of set_masking_policy",
    "operators.governance.drop_row_access_policy": "only undo of set_row_access_policy",
    "operators.governance.access_history": "only reader of read_governed's access log",
}
REFERENCE = {
    # Tests compare the fast ANN paths against these (ROADMAP item 10).
    "operators.similarity.cosine_topk_bruteforce": "exact top-k the ANN variants are scored against",
    "operators.similarity.embedding_neardup_pairs": "exact pair set for the near-dup paths",
    "operators.similarity.pq_decode_mat": "decodes PQ codes for the codec tests",
}
TEST_INSTRUMENT = {
    # Read how many files a predicate prunes over the live zorder_write.
    "operators.layout.pruning_stats": "file-pruning instrument",
    "operators.layout.pruning_stats_multi": "file-pruning instrument",
    "operators.layout._file_envelopes": "file-pruning instrument",
}
DEFERRED = {
    # ROADMAP item 3: one incremental-aggregate engine; matview is the
    # port target and incremental.py goes with the port.
    "operators.matview.read_matview": "item 3",
    "operators.matview.matview_stream_sink": "item 3",
    "operators.matview.rollup_matview": "item 3",
    "operators.incremental.histogram_measures": "item 3",
    "operators.incremental.invalidate_partitions": "item 3",
    "operators.incremental.percentile_from_histogram": "item 3",
    # ROADMAP item 11: the live daily run through the DataSource; the
    # reference's Airflow retries=3.
    "sources.polygon_api.trading_today": "item 11",
    "sources.polygon_api.download_eod_for_date": "item 11",
    "sources.polygon_api.download_latest": "item 11",
    "sources.polygon_api.download_with_lookback": "item 11",
    "sources.polygon_api.results_to_csv": "item 11",
    "sources.polygon_api.land_csv": "item 11",
    "operators.quality.with_retries": "item 11",
}
ALLOWED = {**API_ONLY, **REFERENCE, **TEST_INSTRUMENT, **DEFERRED}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _File:
    """One parsed file: its top-level defs and every import binding in
    it, whatever scope the import sits in."""

    def __init__(self, path: Path, source: str | None = None):
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text() if source is None else source, str(path))
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.imports: dict[str, set[tuple[str, str]]] = defaultdict(set)
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname].add((a.name, ""))
                    else:
                        top = a.name.split(".")[0]
                        self.imports[top].add((top, ""))
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = self.name.split(".")
                    if path.name != "__init__.py":
                        pkg = pkg[:-1]
                    pkg = pkg[: len(pkg) - node.level + 1]
                    base = ".".join(pkg + ([base] if base else []))
                for a in node.names:
                    self.imports[a.asname or a.name].add((base, a.name))


class Census:
    def __init__(self):
        self.files = {
            f.name: f
            for f in (_File(p) for p in sorted((REPO / PKG).rglob("*.py")))
        }
        self.by_name: dict[str, set[tuple[str, str]]] = defaultdict(set)
        for m, f in self.files.items():
            for d in f.defs:
                self.by_name[d].add((m, d))

    # -- name resolution -------------------------------------------------
    def _member(self, module: str, attr: str, seen=()) -> tuple[str | None, set]:
        """``module.attr`` → (submodule or None, package defs it names)."""
        if f"{module}.{attr}" in self.files:
            return f"{module}.{attr}", set()
        f = self.files.get(module)
        if f is None:
            return None, set()
        if attr in f.defs:
            return None, {(module, attr)}
        out: set = set()
        if (module, attr) not in seen:  # a re-export through an import
            for src, name in f.imports.get(attr, ()):
                sub, defs = self._bound(src, name, seen + ((module, attr),))
                out |= defs
                if sub is not None:
                    return sub, out
        return None, out

    def _bound(self, src: str, name: str, seen=()) -> tuple[str | None, set]:
        """What an import binding refers to."""
        if not name:
            return (src if src in self.files else None), set()
        return self._member(src, name, seen)

    def _resolve(self, f: _File, node: ast.expr) -> tuple[list[str], set, bool]:
        """Modules and defs ``node`` names, and whether it is known.
        A name bound only to modules outside the package is known and
        names nothing."""
        if isinstance(node, ast.Name):
            if node.id in f.defs and f.name in self.files:
                return [], {(f.name, node.id)}, True
            mods, defs = [], set()
            for src, name in f.imports.get(node.id, ()):
                sub, d = self._bound(src, name)
                defs |= d
                if sub is not None:
                    mods.append(sub)
            return mods, defs, node.id in f.imports
        if isinstance(node, ast.Attribute):
            mods, _, known = self._resolve(f, node.value)
            if not known:
                return [], set(self.by_name.get(node.attr, ())), False
            out_mods, defs = [], set()
            for m in mods:
                sub, d = self._member(m, node.attr)
                defs |= d
                if sub is not None:
                    out_mods.append(sub)
            return out_mods, defs, True
        return [], set(), False

    def refs(self, f: _File, nodes) -> set[tuple[str, str]]:
        """Package defs named anywhere in ``nodes``."""
        out: set = set()
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, (ast.Name, ast.Attribute)):
                    out |= self._resolve(f, node)[1]
        return out

    # -- reach -----------------------------------------------------------
    def reach(self, seeds: set) -> set:
        done: set = set()
        todo = list(seeds)
        while todo:
            key = todo.pop()
            if key in done:
                continue
            done.add(key)
            f = self.files[key[0]]
            todo.extend(self.refs(f, [f.defs[key[1]]]) - done)
        return done

    def roots(self) -> set:
        seeds: set = set()
        for m, f in self.files.items():
            for n in f.tree.body:
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    seeds |= self.refs(f, n.decorator_list)
                    if m == f"{PKG}.pipeline" or any(
                        isinstance(d, ast.Call)
                        and getattr(d.func, "id", getattr(d.func, "attr", "")) == "register"
                        for d in n.decorator_list
                    ):
                        seeds.add((m, n.name))
                elif isinstance(n, ast.ClassDef):
                    seeds |= self.refs(
                        f, n.decorator_list + n.bases
                        + [s for s in n.body if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))]
                    )
                else:
                    seeds |= self.refs(f, [n])
        for pattern in ROOT_FILES:
            for p in sorted(REPO.glob(pattern)):
                f = _File(p)
                seeds |= self.refs(f, [f.tree])
        return seeds

    def test_seeds(self) -> set:
        seeds: set = set()
        for p in sorted((REPO / "tests").glob("*.py")):
            f = _File(p)
            seeds |= self.refs(f, [f.tree])
        return seeds

    def unreached(self) -> dict[str, tuple[int, bool]]:
        """``module.def`` → (lines, reached by a test) for every def no
        root reaches."""
        live = self.reach(self.roots())
        tested = self.reach(self.test_seeds())
        out = {}
        for m, f in self.files.items():
            for name, node in f.defs.items():
                if (m, name) in live:
                    continue
                start = min([node.lineno] + [d.lineno for d in node.decorator_list])
                key = f"{m[len(PKG) + 1:]}.{name}"
                out[key] = (node.end_lineno - start + 1, (m, name) in tested)
        return out


@pytest.fixture(scope="module")
def unreached():
    return Census().unreached()


def test_only_allow_listed_defs_are_unreached(unreached):
    extra = sorted(k for k in unreached if k not in ALLOWED)
    assert not extra, (
        "defs no registered query, pipeline step, bench or tool reaches "
        f"(delete them, or allow-list them with a reason): {extra}"
    )


def test_allow_list_names_only_unreached_defs(unreached):
    stale = sorted(k for k in ALLOWED if k not in unreached)
    assert not stale, f"allow-listed defs that are gone or now reached: {stale}"


def test_census_tells_a_package_name_from_a_foreign_one():
    c = Census()
    target = {(f"{PKG}.sources.tables", "load_table")}

    def refs(source: str) -> set:
        f = _File(REPO / "probe.py", source)
        return c.refs(f, [f.tree])

    assert refs("import pyarrow.parquet as pq\npq.load_table(p)\n") == set()
    assert refs('"""load_table is named only here"""\n') == set()
    assert refs(f"from {PKG}.sources import tables\ntables.load_table(s, d, n)\n") == target
    assert refs(f"from {PKG}.sources.tables import load_table as lt\nlt(s, d, n)\n") == target
    assert refs("x.load_table(p)\n") == target  # unknown base: matched by name


if __name__ == "__main__":
    census = Census().unreached()
    total = 0
    for key, (lines, tested) in sorted(census.items()):
        group = next(
            (g for g, d in [("api-only", API_ONLY), ("reference", REFERENCE),
                            ("instrument", TEST_INSTRUMENT), ("deferred", DEFERRED)]
             if key in d), "-")
        total += lines
        print(f"{lines:5d}  {'test' if tested else 'none':4s}  {group:10s}  {key}")
    print(f"{len(census)} defs, {total} lines")
