"""The embedding-search chain keeps one implementation per stage: every
k-means runs through ``kmeans_grouped``, and the top-k windows of the
similarity operators go through ``_top_k``."""

from __future__ import annotations

import ast
from pathlib import Path

from h2outility_spark.operators.kmeans import kmeans, kmeans_grouped

PACKAGE = Path(__file__).resolve().parent.parent / "h2outility_spark"


def test_kmeans_grouped_runs_each_group_as_kmeans_alone(spark):
    """Two groups of different sizes and disjoint ids, run together, give
    exactly the centroids ``kmeans`` gives on each group alone. The data
    are small integers, so every average is exact in float64 whatever
    order Spark sums it in, and equality is exact."""
    groups = {
        0: [(i, [float((7 * i + 3 * d) % 11) for d in range(3)]) for i in range(0, 60, 2)],
        1: [(i, [float((5 * i * i + d) % 13) for d in range(3)]) for i in range(101, 120)],
    }
    points = spark.createDataFrame(
        [(g, i, v) for g, rows in groups.items() for i, v in rows], "s int, vec_id int, vs array<double>"
    )
    got = {}
    for r in kmeans_grouped(points, k=3, max_iter=4).collect():
        got.setdefault((r["s"], r["cluster"]), {})[r["pos"]] = r["centroid_val"]
    for g, rows in groups.items():
        alone = kmeans(spark.createDataFrame(rows, "vec_id int, embedding array<double>"), k=3, max_iter=4)
        want = {}
        for r in alone.collect():
            want.setdefault((g, r["cluster"]), {})[r["pos"]] = r["centroid_val"]
        assert {key: got[key] for key in want} == want, f"group {g}"
    assert len(got) == 6


def _enclosing_functions(tree: ast.Module, pred) -> set[str]:
    """Names of the top-level definitions holding a node that ``pred`` accepts."""
    return {
        top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for top in tree.body
        for node in ast.walk(top)
        if pred(node)
    }


def test_top_k_windows_and_kmeans_privates_stay_in_one_place():
    """``row_number`` is called in the similarity operators and workload
    only by ``_top_k`` and the two windows that need every rank
    (``ivf_assign_multi``'s ratio filter, ``hybrid_search``'s fusion); no
    ``workload_*`` module reaches into a private name of ``kmeans.py``."""

    def is_row_number(node):
        f = node.func if isinstance(node, ast.Call) else None
        return (isinstance(f, ast.Attribute) and f.attr == "row_number") or (
            isinstance(f, ast.Name) and f.id == "row_number"
        )

    callers = set()
    for rel in ("operators/similarity.py", "workload_similarity.py"):
        tree = ast.parse((PACKAGE / rel).read_text())
        callers |= {(rel, fn) for fn in _enclosing_functions(tree, is_row_number)}
    assert callers == {
        ("operators/similarity.py", "_top_k"),
        ("operators/similarity.py", "ivf_assign_multi"),
        ("operators/similarity.py", "hybrid_search"),
    }

    private = []
    for path in sorted(PACKAGE.glob("workload_*.py")):
        tree = ast.parse(path.read_text())
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "h2outility_spark.operators.kmeans":
                private += [(path.name, a.name) for a in node.names if a.name.startswith("_")]
            elif isinstance(node, ast.ImportFrom) and node.module == "h2outility_spark.operators":
                aliases |= {a.asname or a.name for a in node.names if a.name == "kmeans"}
            elif isinstance(node, ast.Import):
                aliases |= {a.asname for a in node.names if a.name == "h2outility_spark.operators.kmeans" and a.asname}
        private += [
            (path.name, node.attr)
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and node.attr.startswith("_")
        ]
    assert not private, private
