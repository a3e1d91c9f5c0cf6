"""Output checks, run outside the timed region.

Each check returns a list of mismatch descriptions; an empty list is a
pass.  A failed check counts as a failed operation in the run's result.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_graph_spark import oracle
from knowledge_graph_spark.checkpoint import content_fingerprint

def record_count():
    """Records of the reference format per row, split the way the parser
    splits them (a Column; needs an active session)."""
    return F.expr(
        "size(filter(split(records, '##'), r -> trim(r) like '(\"entity\"%'"
        " or trim(r) like '(\"relationship\"%'))"
    )


def fingerprint_and_count(df: DataFrame) -> tuple[int, int]:
    """content_fingerprint over the columns in name order (so two tables
    with the same rows in another column order compare equal) and the row
    count, which the XOR fingerprint needs: a row present twice cancels."""
    df = df.select(sorted(df.columns)).persist()
    try:
        return content_fingerprint(df), df.count()
    finally:
        df.unpersist()


def graph_rows(nodes: list, edges: list) -> tuple[dict, dict]:
    """Key the node/edge rows of a Spark collect or of the oracle."""
    n = {r["title"]: (r["type"], r["description"], tuple(r["source_id"])) for r in nodes}
    e = {
        (r["source"], r["target"]): (r["weight"], r["description"], tuple(r["text_unit_ids"]))
        for r in edges
    }
    return n, e


def oracle_graph(raw_records: DataFrame) -> tuple[dict, dict]:
    """The sequential oracle over the job's raw_records, fed in the
    pipeline's record order (conv_id, text_unit_id, rec_idx)."""
    rows = sorted(
        (r.conv_id, r.text_unit_id, r.records)
        for r in raw_records.select("conv_id", "text_unit_id", "records").collect()
    )
    nodes, edges = oracle.parse_records_oracle([(u, rec) for _, u, rec in rows])
    return graph_rows(oracle.oracle_node_rows(nodes), oracle.oracle_edge_rows(edges))


def graph_diff(got: tuple[dict, dict], want: tuple[dict, dict]) -> list[str]:
    out = []
    for what, g, w in (("nodes", got[0], want[0]), ("edges", got[1], want[1])):
        missing = w.keys() - g.keys()
        extra = g.keys() - w.keys()
        changed = [k for k in w.keys() & g.keys() if g[k] != w[k]]
        if missing or extra or changed:
            out.append(
                f"{what}: {len(missing)} missing, {len(extra)} extra, {len(changed)} differ"
                f" (e.g. {sorted(map(str, list(missing) + list(extra) + changed))[:2]})"
            )
    return out


def batch_oracle_check(io) -> list[str]:
    """The job's nodes and edges equal the sequential oracle's, with no
    row emitted twice (keying would otherwise collapse duplicates)."""
    nodes = [r.asDict() for r in io.read("nodes").collect()]
    edges = [r.asDict() for r in io.read("edges").collect()]
    got = graph_rows(nodes, edges)
    out = graph_diff(got, oracle_graph(io.read("raw_records")))
    for what, rows, keyed in (("nodes", nodes, got[0]), ("edges", edges, got[1])):
        if len(rows) != len(keyed):
            out.append(f"{what}: {len(rows) - len(keyed)} duplicate rows")
    return out


def fingerprint_check(store: Path, manifests: dict[str, dict]) -> list[str]:
    """Every stage's manifest fingerprint equals the one recorded by the
    first run of the same program, workload, size and seed in this
    checkout (``store`` is named by all of them)."""
    current = {name: m.get("fingerprint") for name, m in manifests.items()}
    if not store.exists():
        store.parent.mkdir(parents=True, exist_ok=True)
        store.write_text(json.dumps(current, indent=1, sort_keys=True))
        return []
    first = json.loads(store.read_text())
    return [
        f"stage {name}: fingerprint {current.get(name)} != {first.get(name)} of an earlier run"
        for name in sorted(first.keys() | current.keys())
        if current.get(name) != first.get(name)
    ]


def cdc_rebuild_check(committed: dict[str, DataFrame], rebuilt: dict[str, DataFrame]) -> list[str]:
    """The committed CDC tables are content-equal to a batch rebuild on
    the retained transcripts (the delete == rebuild contract), row counts
    included."""
    out = []
    for name, want in rebuilt.items():
        got = committed[name]
        if sorted(got.columns) != sorted(want.columns):
            out.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
            continue
        (fp_got, n_got), (fp_want, n_want) = fingerprint_and_count(got), fingerprint_and_count(want)
        if n_got != n_want:
            out.append(f"{name}: {n_got} rows, the batch rebuild has {n_want}")
        elif fp_got != fp_want:
            out.append(f"{name}: content differs from the batch rebuild")
    return out


def communities_cover_nodes(communities: DataFrame, nodes: DataFrame) -> list[str]:
    """The maintained community table labels exactly the committed nodes."""
    c = {r.title for r in communities.select("title").collect()}
    n = {r.title for r in nodes.select("title").collect()}
    return [] if c == n else [f"communities label {len(c)} titles, graph has {len(n)} nodes"]
