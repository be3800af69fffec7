"""Independent answers the benchmark checks the engine against.

- DuckDB over the same parquet files: EFO answer sets (from the
  ``queries.efo.CQ_ORACLE`` templates with the sampled anchors
  substituted), derivation counts of batched QAA shapes, and the dense
  entity ids ``densify_entities`` must reproduce.
- NumPy: CQD beam search and LMPNN message passing replayed from the
  same embedding store.
- Plain NumPy/pandas filtered ranking and MRR/Hits@k.

Nothing here imports pyspark.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from knovexlite_spark.kg.triples import TRIPLES_VIEW_SQL
from knovexlite_spark.queries.efo import CQ_ORACLE

# the pinned-constant subqueries of the CQ_ORACLE templates: s1 is the
# smallest customer key, s2 the next one, s3 the one after s2, x the
# smallest part key.  Replacing them with literals re-anchors a template
# on sampled entities.
S1_SQL = "(SELECT MIN(c_custkey) FROM customer)"
S2_SQL = f"(SELECT MIN(c_custkey) FROM customer WHERE c_custkey > {S1_SQL})"
S3_RE = re.compile(r"\(SELECT MIN\(c_custkey\) FROM customer\s+WHERE c_custkey > (\d+)\)")
PART_SQL = "(SELECT MIN(p_partkey) FROM part)"

# derivation-count SQL per batched shape over the dense triples
# daug(h, r, t) and inst(qid, r1, r2, s1, s2) — plain joins, not the
# engine's plan
COUNT_SQL = {
    "r1(s1,e1)&r2(e1,f)": """
        SELECT i.qid, b.t AS t, COUNT(*) AS score FROM inst i
        JOIN daug a ON a.r = i.r1 AND a.h = i.s1
        JOIN daug b ON b.r = i.r2 AND b.h = a.t GROUP BY ALL""",
    "r1(s1,f)&!r2(s2,f)": """
        SELECT i.qid, a.t AS t, COUNT(*) AS score FROM inst i
        JOIN daug a ON a.r = i.r1 AND a.h = i.s1
        WHERE NOT EXISTS (SELECT 1 FROM daug b
                          WHERE b.r = i.r2 AND b.h = i.s2 AND b.t = a.t)
        GROUP BY ALL""",
}

_KG_TABLES = ("customer", "orders", "lineitem", "supplier", "part")


class DuckOracle:
    """One in-memory DuckDB connection over a generated dataset."""

    def __init__(self, data_dir: Path, temp_dir: Path):
        self.con = duckdb.connect(config={"threads": 2, "temp_directory": str(temp_dir)})
        for name in _KG_TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir / (name + '.parquet')}')"
            )
        self.con.execute(f"CREATE TABLE base AS {TRIPLES_VIEW_SQL}")
        self.con.execute(
            "CREATE TABLE aug AS SELECT h, 2 * r AS r, t FROM base "
            "UNION ALL SELECT t AS h, 2 * r + 1 AS r, h AS t FROM base"
        )

    def close(self) -> None:
        self.con.close()

    def efo_answers(self, cq_name: str, s1: int, s2: int, s3: int, part: int) -> set[int]:
        """The answer set of one CQ_ORACLE template, anchored on customers
        s1, s2, s3 and part ``part``."""
        sql = CQ_ORACLE[cq_name].replace(S2_SQL, str(s2))
        sql = S3_RE.sub(str(s3), sql).replace(S1_SQL, str(s1)).replace(PART_SQL, str(part))
        if "MIN(" in sql:
            raise ValueError(f"{cq_name}: a pinned constant was left in the oracle SQL")
        return {int(r[0]) for r in self.con.execute(sql).fetchall()}

    def counts(self, lstr: str, inst: pd.DataFrame) -> dict[tuple[int, int], int]:
        """(qid, t) -> derivation count for every instance of one shape,
        over the dense triples ``daug``.  ``inst`` has columns qid, r1,
        r2, s1, s2."""
        self.con.register("inst", inst)
        try:
            sql = COUNT_SQL[lstr]
            return {(int(q), int(t)): int(s) for q, t, s in self.con.execute(sql).fetchall()}
        finally:
            self.con.unregister("inst")

    def dense_ids(self) -> np.ndarray:
        """Original entity ids in dense order: position i holds the entity
        densify_entities must number i (global order of the ids)."""
        rows = self.con.execute(
            "SELECT orig FROM (SELECT h AS orig FROM base UNION SELECT t FROM base) ORDER BY orig"
        ).fetchnumpy()
        return rows["orig"].astype(np.int64)

    def make_dense_aug(self, dense_of_orig: np.ndarray) -> None:
        """Table daug: the augmented triples re-keyed to dense ids."""
        self.con.register("idmap", pd.DataFrame({"orig": dense_of_orig, "dense": np.arange(len(dense_of_orig))}))
        self.con.execute(
            "CREATE OR REPLACE TABLE daug AS SELECT mh.dense AS h, a.r, mt.dense AS t FROM aug a "
            "JOIN idmap mh ON mh.orig = a.h JOIN idmap mt ON mt.orig = a.t"
        )
        self.con.unregister("idmap")


# -- filtered ranking -------------------------------------------------------


def filtered_rank_bounds(
    ent: np.ndarray, score: np.ndarray, easy, hard, eps: float
) -> dict[int, tuple[int, int]]:
    """Filtered rank of every hard answer of one query, as an interval.

    Under the filtered protocol the rank of a hard answer is the number
    of entities that are not answers (easy or hard) and score strictly
    higher.  ``ent``/``score`` list the entities that have a score; an
    answer without one is not ranked.  Scores within ``eps`` of the
    answer's own score could order either way between two float
    implementations, so the bounds count them as better (high) and not
    better (low); with eps=0 the interval is a single integer."""
    pos = {int(e): i for i, e in enumerate(ent)}
    answers = set(int(a) for a in easy) | set(int(a) for a in hard)
    keep = np.fromiter((int(e) not in answers for e in ent), bool, len(ent))
    others = np.sort(score[keep])
    out = {}
    for a in hard:
        i = pos.get(int(a))
        if i is None:
            continue
        s = score[i]
        lo = len(others) - np.searchsorted(others, s + eps, side="right")
        hi = len(others) - np.searchsorted(others, s - eps, side="right")
        out[int(a)] = (int(lo), int(hi))
    return out


def mrr_hits_bounds(
    ranks: dict[int, dict[int, tuple[int, int]]], qtype: dict[int, str], ks=(1, 3, 10)
) -> dict[str, dict[str, tuple[float, float]]]:
    """Per query type, [low, high] of MRR and Hits@k: per-query means
    over hard answers, then the mean over queries (the package's
    ``mrr_hits`` aggregation order)."""
    per_type: dict[str, list[dict[str, tuple[float, float]]]] = {}
    for qid, by_answer in ranks.items():
        if not by_answer:
            continue
        lo = np.array([b[0] for b in by_answer.values()], dtype=np.float64)
        hi = np.array([b[1] for b in by_answer.values()], dtype=np.float64)
        row = {"mrr": (np.mean(1.0 / (1.0 + hi)), np.mean(1.0 / (1.0 + lo)))}
        for k in ks:
            row[f"hit{k}"] = (np.mean(hi < k), np.mean(lo < k))
        per_type.setdefault(qtype[qid], []).append(row)
    out = {}
    for qt, rows in per_type.items():
        out[qt] = {
            m: (float(np.mean([r[m][0] for r in rows])), float(np.mean([r[m][1] for r in rows])))
            for m in rows[0]
        }
    return out


def metrics_match(
    got: dict[str, dict[str, float]], want: dict[str, dict[str, tuple[float, float]]], tol: float = 1e-9
) -> bool:
    if set(got) != set(want):
        return False
    for qt, bounds in want.items():
        for m, (lo, hi) in bounds.items():
            v = got[qt].get(m)
            if v is None or not (lo - tol <= v <= hi + tol):
                return False
    return True


# -- neural replays ---------------------------------------------------------


def transe_all(ent: np.ndarray, rel: np.ndarray, h: int, r: int) -> np.ndarray:
    """TransE score of (h, r, t) for every t: -||e_h + e_r - e_t||."""
    est = ent[h] + rel[r]
    return -np.linalg.norm(est[None, :] - ent, axis=-1).astype(np.float64)


def cqd_replay(ent, rel, lstr_edges, bindings: dict[str, int], beam: int) -> np.ndarray:
    """CQD beam search for one tree-shaped conjunctive query.

    ``lstr_edges``: (src, dst, relation symbol, negated) per atom in
    head->tail direction.  The free variable ``f`` is scored over all
    entities; every other variable keeps its top-``beam`` entities
    (score desc, id asc); a variable's score is, per incoming edge, the
    max over source assignments of source score + edge score (negated
    edges flip the edge score), summed over edges."""
    n = ent.shape[0]
    edges = []
    for src, dst, sym, neg in lstr_edges:
        edges.append((src, dst, bindings[sym], neg))
        edges.append((dst, src, bindings[sym] ^ 1, neg))
    visited: set[str] = set()

    def recurse(target: str, prune: bool) -> tuple[np.ndarray, np.ndarray]:
        visited.add(target)
        active = [e for e in edges if e[1] == target and e[0] not in visited]
        total = np.zeros(n)
        for src, _, r, neg in active:
            if src.startswith("s"):
                heads, acc = np.array([bindings[src]]), np.zeros(1)
            else:
                heads, acc = recurse(src, prune=True)
            best = np.full(n, -np.inf)
            for h, a in zip(heads, acc):
                s = transe_all(ent, rel, int(h), r)
                best = np.maximum(best, (-s if neg else s) + a)
            total = total + best
        if not prune:
            return np.arange(n), total
        order = np.lexsort((np.arange(n), -total))[:beam]
        return order, total[order]

    return recurse("f", prune=False)[1]


def lmpnn_replay(
    ent, rel, var_vec: np.ndarray, graphs: list[dict], self_coef: float = 0.1
) -> dict[int, np.ndarray]:
    """LMPNN (bias-only update, TransE messages) for a batch of
    single-clause query graphs; returns query id -> cosine score of the
    readout against every entity.

    graph: {"qid", "nodes": {name: entity id or None}, "edges":
    [(src, dst, rel id, neg)] in both directions, "free": name}.
    Every graph runs T = max(#variables over the batch) rounds and reads
    the free node's state after round (#variables - 1)."""
    t_max = max(sum(v is None for v in g["nodes"].values()) for g in graphs) or 1
    ent_n = ent / np.maximum(np.linalg.norm(ent, axis=1, keepdims=True), 1e-12)
    out = {}
    for g in graphs:
        n_vars = sum(v is None for v in g["nodes"].values())
        x = {
            k: (ent[v] if v is not None else var_vec).astype(np.float32)
            for k, v in g["nodes"].items()
        }
        states = []
        for _ in range(t_max):
            aggr = {k: np.zeros(ent.shape[1], dtype=np.float64) for k in x}
            for src, dst, r, neg in g["edges"]:
                msg = (x[src] + rel[r]) * np.float32(1.0 - 2.0 * neg)
                aggr[dst] = aggr[dst] + msg.astype(np.float32).astype(np.float64)
            new = {}
            for k in x:
                h = self_coef * x[k] + aggr[k]
                es = np.maximum(h @ ent.T, 0.0)
                new[k] = (es @ ent).astype(np.float32)
            x = new
            states.append(x)
        v = states[max(n_vars, 1) - 1][g["free"]]
        v = v / max(np.linalg.norm(v), 1e-12)
        out[g["qid"]] = (v @ ent_n.T).astype(np.float64)
    return out
