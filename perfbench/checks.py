"""Output checks: planted truth for clusters, DuckDB oracles for the chain
rows, and digests that pin every later pass to the checked one."""

from __future__ import annotations

import hashlib
import importlib.util
from math import comb
from pathlib import Path
from types import SimpleNamespace

MIN_RECALL = 0.99


def pair_recall(labels: dict[int, int], groups: list[list[int]]) -> float:
    """Share of planted must-pair pairs whose two docs share a cluster.
    Counted per (group, cluster) so a 2000-member family costs 2000
    lookups, not two million."""
    total = hit = 0
    for g in groups:
        total += comb(len(g), 2)
        per_cluster: dict[int, int] = {}
        for d in g:
            if d in labels:
                per_cluster[labels[d]] = per_cluster.get(labels[d], 0) + 1
        hit += sum(comb(n, 2) for n in per_cluster.values())
    return hit / total if total else 1.0


def merged_must_not(labels: dict[int, int],
                    must_not: list[tuple[int, int]]) -> int:
    """Number of must-not-pair pairs that ended in one cluster."""
    return sum(1 for a, b in must_not
               if a in labels and labels.get(a) == labels.get(b))


def check_clusters(pdf, corpus) -> tuple[float, list[str]]:
    """(recall, problems) for a (doc_id, cluster_id) frame against the
    corpus's planted truth."""
    labels = dict(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist()))
    recall = pair_recall(labels, corpus.groups)
    problems = []
    if recall < MIN_RECALL:
        problems.append(f"pair recall {recall:.4f} < {MIN_RECALL}")
    merged = merged_must_not(labels, corpus.must_not)
    if merged:
        problems.append(f"{merged} must-not-pair pairs merged")
    return recall, problems


def digest(pdf) -> str:
    """Order-independent digest of a result frame."""
    cols = sorted(pdf.columns)
    rows = pdf[cols].sort_values(cols).to_csv(index=False)
    return hashlib.sha1(rows.encode()).hexdigest()


def _load_compare(root: Path):
    spec = importlib.util.spec_from_file_location(
        "check_entry", root / "tools" / "check_entry.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def oracle_problems(root: Path, data_dir: Path,
                    results: dict[str, object]) -> list[str]:
    """Compare each collected row result (a pandas frame) with its DuckDB
    oracle over the same `documents.parquet`, using the repo's own gate
    comparator (`tools/check_entry.compare`)."""
    import duckdb

    from distributed_lsh_spark.entry_queries import ORACLE_SQL

    compare = _load_compare(root)
    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{data_dir / 'documents.parquet'}')")
        problems = []
        for name, pdf in results.items():
            # compare() only needs .columns and .toPandas(): hand it the
            # frame this pass already collected instead of re-running Spark
            shim = SimpleNamespace(columns=list(pdf.columns),
                                   toPandas=lambda pdf=pdf: pdf)
            problems += compare(name, shim, con.sql(ORACLE_SQL[name]).df())
        return problems
    finally:
        con.close()
