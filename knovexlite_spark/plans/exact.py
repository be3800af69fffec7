"""Exact set-semantics EFO evaluation: conjuncts -> DataFrame join plans.

This is the relational realization of what the reference *approximates*
with beam search (SURVEY.md §2.3): every query atom is a join against
the triples DataFrame —

- positive atom          -> inner equi-join (J1)
- negated atom           -> left_anti join (J4, exact semantics)
- conjunction            -> chained natural joins on shared variables
- disjunction (DNF)      -> UNION of per-clause plans
- existential projection -> DISTINCT on the free variable

Join order is a greedy connected ordering seeded by the most-selective
atom (most bound constants), mirroring the reference's backward-BFS
evaluation order (L9, efo_lang.py:749-776).  Scale notes: each
constant-anchored atom filters ``triples`` on (r, h) or (r, t) — those
predicates push into the parquet scan; the frontier side of every join
starts tiny (one anchor's neighborhood), so AQE converts these to
broadcast joins at runtime.  Nothing here collects to the driver.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knovexlite_spark.language.ast import Atomic, ConjunctiveClause
from knovexlite_spark.language.parser import parse_lstr
from knovexlite_spark.language.normalize import dnf_conjuncts


def atom_frame(triples: DataFrame, atom: Atomic, bindings: dict[str, int]) -> DataFrame:
    """One atom r(a,b) -> DataFrame of its variable columns.

    Constants become pushed-down filters; variables become renamed
    columns.  A repeated variable (r(e1,e1)) becomes an h=t filter.
    """
    rel_id = bindings[atom.relation]
    df = triples.filter(F.col("r") == F.lit(rel_id))
    head, tail = atom.head, atom.tail
    cols = []
    if head.is_constant:
        df = df.filter(F.col("h") == F.lit(bindings[head.name]))
    if tail.is_constant:
        df = df.filter(F.col("t") == F.lit(bindings[tail.name]))
    if head.is_variable and tail.is_variable and head.name == tail.name:
        df = df.filter(F.col("h") == F.col("t"))
        cols.append(F.col("h").alias(head.name))
    else:
        if head.is_variable:
            cols.append(F.col("h").alias(head.name))
        if tail.is_variable:
            cols.append(F.col("t").alias(tail.name))
    if not cols:  # fully ground atom (sentence check): boolean via count
        cols = [F.lit(1).alias("__ground__")]
    return df.select(*cols)


def _order_positive(clause: ConjunctiveClause) -> list[Atomic]:
    """Greedy connected join order, most-constant-bound atom first."""
    remaining = list(clause.positive)
    if not remaining:
        raise ValueError("clause has no positive atoms")
    remaining.sort(
        key=lambda a: (-sum(t.is_constant for t in a.terms), a.lstr())
    )
    ordered = [remaining.pop(0)]
    bound = {t.name for t in ordered[0].terms if t.is_variable}
    while remaining:
        idx = next(
            (
                i
                for i, a in enumerate(remaining)
                if bound & {t.name for t in a.terms if t.is_variable}
            ),
            0,  # disconnected component: falls back to cross join
        )
        atom = remaining.pop(idx)
        ordered.append(atom)
        bound |= {t.name for t in atom.terms if t.is_variable}
    return ordered


def compile_clause(
    clause: ConjunctiveClause, frame: Callable[[Atomic], DataFrame]
) -> DataFrame:
    """One conjunctive clause -> DataFrame of all variable bindings, for
    both the single and the batched evaluator: ``frame(atom)`` builds
    one atom's variable columns (:func:`atom_frame` or
    :func:`_batched_atom_frame`).  Positive atoms join in
    :func:`_order_positive` order on their shared columns (a cross join
    when there are none); each negated atom is then a ``left_anti`` join
    on its own columns, which the positive atoms must all bind."""
    ordered = _order_positive(clause)
    acc = frame(ordered[0])
    for atom in ordered[1:]:
        right = frame(atom)
        shared = sorted(set(acc.columns) & set(right.columns))
        acc = acc.join(right, on=shared) if shared else acc.crossJoin(right)

    for atom in clause.negative:
        neg = frame(atom)
        neg_vars = set(neg.columns)
        unbound = neg_vars - set(acc.columns)
        if unbound:
            raise ValueError(
                f"unsafe negation: {atom.lstr()} binds {sorted(unbound)} "
                "not bound by any positive atom"
            )
        acc = acc.join(neg, on=sorted(neg_vars), how="left_anti")
    return acc


def _batched_atom_frame(
    triples: DataFrame, inst: DataFrame, atom: Atomic
) -> DataFrame:
    """One atom over a batch of instances: (query_id, bindings MAP) x
    triples, with the per-instance relation/constant bindings as join
    conditions (L7 batched parameter binding — the instance frame is
    the batch).  The instance side carries an EXPLICIT broadcast hint:
    it is driver-sized by contract, but it usually arrives via
    createDataFrame (no stats), and without the hint Spark planned a
    SortMergeJoin that shuffled the whole edge set by relation id —
    ~10 distinct values, maximal skew — per atom (caught by round-4
    gate profiling: the shuffle was ~3x the rest of the QAA gate)."""
    t_ = triples.alias("T")
    i_ = F.broadcast(inst.alias("I"))

    def bound(sym: str) -> F.Column:
        return F.element_at(F.col("I.bindings"), F.lit(sym))

    cond = F.col("T.r") == bound(atom.relation)
    cols = [F.col("I.query_id").alias("query_id")]
    head, tail = atom.head, atom.tail
    if head.is_constant:
        cond = cond & (F.col("T.h") == bound(head.name))
    if tail.is_constant:
        cond = cond & (F.col("T.t") == bound(tail.name))
    if head.is_variable and tail.is_variable and head.name == tail.name:
        cond = cond & (F.col("T.h") == F.col("T.t"))
        cols.append(F.col("T.h").alias(head.name))
    else:
        if head.is_variable:
            cols.append(F.col("T.h").alias(head.name))
        if tail.is_variable:
            cols.append(F.col("T.t").alias(tail.name))
    return i_.join(t_, cond).select(*cols)


def answer_counts_batched(
    triples: DataFrame,
    lstr: str,
    instances: DataFrame,
    free_var: str = "f",
) -> DataFrame:
    """Batched exact evaluation with DERIVATION COUNTS: for every
    instance of one query shape, score(t) = number of assignments to the
    existential variables that derive the answer (A2 grouped-sum
    conjunction evidence; the exact-semantics analogue of the
    reference's batched QAA scoring, dataloader.py:64-102).

    instances: (query_id LONG, bindings MAP<STRING,LONG>) binding every
    r*/s* symbol.  Returns (query_id, t, score LONG), sparse — entities
    with no derivation are implicitly 0.
    """
    clauses = dnf_conjuncts(parse_lstr(lstr))
    if len(clauses) != 1:
        raise NotImplementedError(
            "answer_counts_batched: single-clause shapes only (disjuncts "
            "have no canonical count semantics)"
        )
    clause = clauses[0]
    inst = instances.select("query_id", "bindings")
    # Every r*/s* symbol of the clause must be bound (non-NULL) in every
    # instance: element_at on a missing key yields NULL, which makes the
    # atom join silently produce ZERO derivations for that instance
    # instead of an error (round-2 advisor finding).  Instance frames
    # are driver-sized by contract (they are the query batch), so one
    # eager validation job is cheap.
    required = sorted(
        {a.relation for a in clause.all_atoms()}
        | {t.name for a in clause.all_atoms() for t in a.terms if t.is_constant}
    )
    req_arr = F.array(*[F.lit(s) for s in required])
    bad = inst.filter(
        F.exists(req_arr, lambda s: F.element_at(F.col("bindings"), s).isNull())
    )
    bad_rows = bad.select("query_id").limit(20).collect()
    if bad_rows:
        raise ValueError(
            f"answer_counts_batched: instances {[r['query_id'] for r in bad_rows]} "
            f"are missing bindings for some of the clause symbols {required}"
        )
    # every batched atom frame carries query_id, so no join is a cross join
    acc = compile_clause(clause, lambda atom: _batched_atom_frame(triples, inst, atom))
    if free_var not in acc.columns:
        raise ValueError(f"free variable {free_var!r} not bound in {lstr!r}")
    return acc.groupBy("query_id", F.col(free_var).alias("t")).agg(
        F.count("*").cast("long").alias("score")
    )


def answer_exact(
    triples: DataFrame,
    lstr: str,
    bindings: dict[str, int],
    free_var: str = "f",
) -> DataFrame:
    """Answer an EFO query exactly: the distinct set of free-variable
    entity ids, one clause plan per DNF disjunct combined by UNION."""
    formula = parse_lstr(lstr)
    needed = {a.relation for a in formula.atoms()} | {
        t.name for a in formula.atoms() for t in a.terms if t.is_constant
    }
    missing = needed - set(bindings)
    if missing:
        raise ValueError(f"unbound symbols in {lstr!r}: {sorted(missing)}")
    clauses = dnf_conjuncts(formula)
    parts = []
    for clause in clauses:
        df = compile_clause(clause, lambda atom: atom_frame(triples, atom, bindings))
        if free_var not in df.columns:
            raise ValueError(f"free variable {free_var!r} not in clause {clause}")
        parts.append(df.select(free_var))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # ∃-projection of everything but the free variable + DNF set-union.
    return out.distinct()
