"""The two benchmark workloads and the loop that measures them.

Every workload follows the same life cycle inside one process:

1. set-up, repeated ``setup_reps`` times (the first one also launches
   the JVM): start a Spark session, build the ``Engine`` (views + KG
   view), then the workload's own preparation;
2. ``warmup_cycles`` warm-up cycles (not timed);
3. the measured window: whole cycles of operations in a closed loop
   with one client until ``seconds`` have passed;
4. the correctness check of every operation's output against DuckDB or
   a NumPy replay; a mismatch counts as a failed operation.

The engine is used only through its public functions: ``Engine.efo``,
``kg.triples.pair_encode_inverse``, ``kg.qaa``, ``language``,
``plans.exact.answer_counts_batched``, ``functions.oracle.densify_entities``,
``functions.kge``, and ``reasoner.{cqd,lmpnn,metric}``.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from knovexlite_spark.engine import Engine
from knovexlite_spark.functions.kge import EmbeddingStore, TransE
from knovexlite_spark.functions.oracle import densify_entities
from knovexlite_spark.kg.qaa import evaluate_qaa, load_qaa_json, qaa_answer_frames
from knovexlite_spark.kg.triples import pair_encode_inverse
from knovexlite_spark.language import dnf_conjuncts, parse_lstr
from knovexlite_spark.plans.exact import answer_counts_batched
from knovexlite_spark.queries.efo import (
    CONTAINS,
    CQ_DEFS,
    CUST_NATION,
    PLACED,
)
from knovexlite_spark.reasoner.cqd import CQDBeam
from knovexlite_spark.reasoner.lmpnn import LMPNN, build_query_graph_frames
from knovexlite_spark.reasoner.metric import filtered_hard_ranks, mrr_hits
from knovexlite_spark.session import get_spark

from perfbench import reference
from perfbench.procs import peak_rss_mb
from perfbench.tracing import Tracer

# the neural_eval shapes, every batch holds each of them: lstr, atoms
# (src, dst, relation symbol, negated), and the relation ids over the
# pair-encoded view
SHAPES: dict[str, tuple[str, list[tuple[str, str, str, int]], dict[str, int]]] = {
    "2p": (
        "r1(s1,e1)&r2(e1,f)",
        [("s1", "e1", "r1", 0), ("e1", "f", "r2", 0)],
        {"r1": PLACED, "r2": CONTAINS},
    ),
    "2in": (
        "r1(s1,f)&!r2(s2,f)",
        [("s1", "f", "r1", 0), ("s2", "f", "r2", 1)],
        {"r1": CUST_NATION, "r2": CUST_NATION},
    ),
}
EFO_SHAPES = [n for n in CQ_DEFS if n != "cq9_samenation"]  # the 12 anchored shapes


@dataclass
class Config:
    """Sizes of one workload run.  ``smoke`` shrinks every one of them."""

    sf: float
    setup_reps: int = 3
    per_shape: int = 0  # instances per shape in a batch
    cycle: int = 1  # the window holds whole cycles of this many operations
    min_cycles: int = 1  # and at least this many of them, however long they take
    warmup_cycles: int = 1


CONFIGS = {
    "efo_interactive": Config(sf=0.1, setup_reps=5, cycle=len(EFO_SHAPES), min_cycles=5, warmup_cycles=2),
    "neural_eval": Config(sf=0.001, per_shape=16),
}
SMOKE = {
    "efo_interactive": Config(sf=0.001, setup_reps=1, cycle=len(EFO_SHAPES), warmup_cycles=0),
    "neural_eval": Config(sf=0.001, setup_reps=1, per_shape=2, warmup_cycles=0),
}
BEAM = 10
EMB_DIM = 32
OP_TIMEOUT_S = 90.0  # an operation's jobs are cancelled after this
RUN_DEADLINE_S = 140.0  # no operation starts later than this into the run


@dataclass
class Op:
    """One operation: its inputs, and after running, its output."""

    index: int
    spec: dict
    items: int
    latency: float = 0.0
    parts: dict = field(default_factory=dict)  # named sub-timings
    output: object = None
    error: str | None = None


class Catalog:
    """What input generation needs to know about a dataset, read from
    its parquet files (not through the engine)."""

    def __init__(self, data_dir: Path):
        cust = pq.read_table(data_dir / "customer.parquet", columns=["c_nationkey"])
        self.cust_nation = cust.column("c_nationkey").to_numpy().astype(np.int64)
        self.n_customers = len(self.cust_nation)
        self.n_parts = pq.read_metadata(data_dir / "part.parquet").num_rows
        self.by_nation = {
            n: np.flatnonzero(self.cust_nation == n) for n in np.unique(self.cust_nation)
        }

    def anchors(self, rng: np.random.Generator, shape: str, odd_nation) -> dict[str, int]:
        """Anchor customers for a shape.  2in takes s1 from a nation that
        ``odd_nation`` accepts (so its single answer is a hard answer)
        and s2 from another nation (so the answer is not negated away)."""
        if shape != "2in":
            return {"s1": int(rng.integers(self.n_customers))}
        nations = [n for n in sorted(self.by_nation) if odd_nation(n)]
        nation = nations[rng.integers(len(nations))]
        others = [n for n in sorted(self.by_nation) if n != nation]
        return {
            "s1": int(rng.choice(self.by_nation[nation])),
            "s2": int(rng.choice(self.by_nation[others[rng.integers(len(others))]])),
        }


def parse_shape(tracer: Tracer, lstr: str) -> None:
    """The language layer on its own: parse + DNF, timed as a span.
    Called before an operation's clock starts, so it adds nothing to the
    end-to-end latency (the engine parses again inside its own calls)."""
    with tracer.span("language") as sp:
        n = len(dnf_conjuncts(parse_lstr(lstr)))
        if sp is not None:
            sp.counts["clauses"] = n


# -- workloads --------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, cfg: Config, data_dir: Path, work: Path, seed: int, tracer: Tracer):
        self.cfg, self.data_dir, self.work, self.seed, self.tracer = cfg, data_dir, work, seed, tracer
        self.catalog = Catalog(data_dir)
        self.duck = reference.DuckOracle(data_dir, work / "tmp")
        self.rng = np.random.default_rng(seed)

    def close(self) -> None:
        self.duck.close()

    def setup(self, spark) -> None:
        with self.tracer.span("engine"):
            self.engine = Engine(spark, str(self.data_dir))

    def next_op(self, index: int) -> Op:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        raise NotImplementedError

    def run_op(self, spark, op: Op) -> None:
        raise NotImplementedError

    def check(self, op: Op) -> bool:
        raise NotImplementedError

    def check_setup(self) -> bool | None:
        """Check the set-up's own output; None when there is nothing to check."""
        return None

    def summary(self, ops: list[Op]) -> dict:
        return {}


class EfoInteractive(Workload):
    """One client issues the 12 anchored CQ shapes in seeded order with
    seeded anchors through ``Engine.efo(..., augmented=True)`` and
    collects each answer set."""

    name = "efo_interactive"

    def __init__(self, *a):
        super().__init__(*a)
        self._cycle: list[str] = []
        self._issued: dict[str, int] = {}

    def _spec(self, shape: str) -> dict:
        """Seeded anchors: customers s1, s2, s3 and a part.  Every other
        query of a shape (the first, third, ...) draws s2 and s3 from
        s1's nation, so intersections (2i, 3i, pi) have answers and the
        negations (2in, inp) come out empty; the rest draw them from all
        customers, where they share s1's nation 1 time in 25."""
        k = self._issued.get(shape, 0)
        self._issued[shape] = k + 1
        n = self.catalog.n_customers
        s1 = int(self.rng.integers(n))
        pool = self.catalog.by_nation[self.catalog.cust_nation[s1]] if k % 2 == 0 else np.arange(n)
        pool = pool[pool != s1]
        if len(pool) < 2:  # a nation of one or two customers (tiny data only)
            pool = np.delete(np.arange(n), s1)
        s2, s3 = (int(x) for x in self.rng.choice(pool, 2, replace=False))
        p = int(self.rng.integers(self.catalog.n_parts))
        return {"shape": shape, "s1": s1, "s2": s2, "s3": s3, "part": p}

    def next_op(self, index: int) -> Op:
        if not self._cycle:
            self._cycle = list(self.rng.permutation(EFO_SHAPES))
        return Op(index, self._spec(str(self._cycle.pop())), items=1)

    def warmup_ops(self) -> list[Op]:
        return [Op(-1, self._spec(s), items=1) for s in EFO_SHAPES]

    def run_op(self, spark, op: Op) -> None:
        lstr, rels, const_map = CQ_DEFS[op.spec["shape"]]
        sp = op.spec
        pinned = {"s1": sp["s1"], "s2": sp["s2"], "s3": sp["s3"], "x": 2_000_000 + sp["part"]}
        bindings = dict(rels, **{sym: pinned[key] for sym, key in const_map.items()})
        parse_shape(self.tracer, lstr)
        with self.tracer.span("efo.query"):
            t0 = time.perf_counter()
            with self.tracer.span("exact.plan"):
                df = self.engine.efo(lstr, bindings, augmented=True)
            t1 = time.perf_counter()
            with self.tracer.span("exact.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        op.output = {int(r[0]) for r in rows}
        op.latency = t2 - t0
        op.parts = {"plan": t1 - t0, "exec": t2 - t1}

    def check(self, op: Op) -> bool:
        sp = op.spec
        want = self.duck.efo_answers(sp["shape"], sp["s1"], sp["s2"], sp["s3"], sp["part"])
        return op.output == want


def _parity_split(answers) -> tuple[list[int], list[int]]:
    """Easy/hard split by answer-id parity (the qaa_lifecycle rule)."""
    easy = sorted(int(t) for t in answers if t % 2 == 0)
    hard = sorted(int(t) for t in answers if t % 2 == 1)
    return easy, hard


class NeuralEval(Workload):
    """The paper's QAA life cycle over the densified KG and a seeded
    TransE store.  One operation takes a fresh batch of instances per
    shape and

    1. answers it exactly: ``answer_counts_batched`` per shape over the
       dense triples; the answers, split easy/hard by id parity, make
       the batch's QAA file, loaded through ``kg.qaa``;
    2. scores and ranks it with CQD beam search through ``evaluate_qaa``;
    3. scores it with LMPNN (query-graph frames, all-entity scores) and
       ranks it with ``filtered_hard_ranks`` and ``mrr_hits``.
    """

    name = "neural_eval"

    def __init__(self, *a):
        super().__init__(*a)
        self.dense_orig = self.duck.dense_ids()
        self.dense_of = {int(o): i for i, o in enumerate(self.dense_orig)}
        self.duck.make_dense_aug(self.dense_orig)
        # s1's nation must get an odd dense id, so the single nation
        # answer of a 2in instance is a hard (ranked) answer
        self.odd_nation = lambda nation: self.dense_of[4_000_000 + int(nation)] % 2 == 1

    def setup(self, spark) -> None:
        super().setup(spark)
        with self.tracer.span("kg.aug_view"):
            aug = pair_encode_inverse(self.engine.triples).cache()
            aug.count()
        with self.tracer.span("oracle.densify"):
            mapping, dense = densify_entities(aug)
            self.mapping = mapping.cache()
            self.num_entities = self.mapping.count()
            self.dense = dense.cache()
            self.dense.count()
        aug.unpersist()
        with self.tracer.span("kge.store"):
            self.store = EmbeddingStore.xavier(self.num_entities, 10, ent_dim=EMB_DIM, seed=self.seed)
            self.cqd = CQDBeam(model=TransE(), store=self.store, beam_size=BEAM)
            self.lmpnn = LMPNN(model=TransE(), store=self.store, seed=self.seed)

    def check_setup(self) -> bool:
        """densify_entities must number entities in global id order."""
        got = {int(r["orig"]): int(r["dense"]) for r in self.mapping.collect()}
        return got == self.dense_of

    def next_op(self, index: int, per_shape: int | None = None) -> Op:
        insts = []
        for shape in SHAPES:
            lstr, _, rels = SHAPES[shape]
            for _ in range(per_shape or self.cfg.per_shape):
                anchors = self.catalog.anchors(self.rng, shape, self.odd_nation)
                b = dict(rels, **{k: self.dense_of[v] for k, v in anchors.items()})
                insts.append({"qid": len(insts), "shape": shape, "lstr": lstr, "bindings": b})
        return Op(index, {"instances": insts}, items=len(insts))

    def warmup_ops(self) -> list[Op]:
        # the plans, Python workers and JIT warm up the same on a small batch
        return [self.next_op(-1, per_shape=2)]

    def _exact(self, spark, op: Op):
        """Step 1: exact answers, then the QAA file of the batch.  Sets
        each instance's easy/hard answers; returns the derivation counts,
        the QAA frame and its (easy, hard, qtypes) frames."""
        insts = op.spec["instances"]
        with self.tracer.span("exact_batched") as sp:
            scored = None
            for shape in SHAPES:
                lstr = SHAPES[shape][0]
                rows = [(x["qid"], x["bindings"]) for x in insts if x["shape"] == shape]
                inst = spark.createDataFrame(rows, schema="query_id long, bindings map<string,long>")
                c = answer_counts_batched(self.dense, lstr, inst)
                scored = c if scored is None else scored.unionByName(c)
            counts = [(int(r["query_id"]), int(r["t"]), int(r["score"])) for r in scored.collect()]
            if sp is not None:
                sp.counts["rows"] = len(counts)
        answers: dict[int, list[int]] = {}
        for q, t, _ in counts:
            answers.setdefault(q, []).append(t)
        obj: dict[str, list] = {}
        for x in insts:
            x["easy"], x["hard"] = _parity_split(answers.get(x["qid"], []))
            obj.setdefault(x["lstr"], []).append([x["bindings"], x["easy"], x["hard"]])
        # load_qaa_json numbers instances in file order, which is the
        # order they were generated in (grouped by shape)
        path = self.work / "tmp" / f"qaa_{self.name}_{op.index}.json"
        with self.tracer.span("kg.qaa"):
            path.write_text(json.dumps(obj))
            qaa = load_qaa_json(spark, str(path))
            frames = qaa_answer_frames(qaa)
        path.unlink()
        return counts, qaa, frames

    def run_op(self, spark, op: Op) -> None:
        insts = op.spec["instances"]
        for shape in SHAPES:
            parse_shape(self.tracer, SHAPES[shape][0])
        with self.tracer.span("neural.batch"):
            t0 = time.perf_counter()
            counts, qaa, (easy, hard, qtypes) = self._exact(spark, op)
            t1 = time.perf_counter()
            with self.tracer.span("cqd"):
                cqd = _metric_rows(evaluate_qaa(spark, qaa, self.cqd).collect())
            t2 = time.perf_counter()
            with self.tracer.span("lmpnn.forward"):
                nodes, edges = build_query_graph_frames(
                    spark, [(x["qid"], x["lstr"], x["bindings"]) for x in insts]
                )
                scores = self.lmpnn.eval_all_entity_scores(nodes, edges)
            with self.tracer.span("lmpnn.score"):
                scores = scores.localCheckpoint()
            with self.tracer.span("metric") as sp:
                lmpnn = _metric_rows(mrr_hits(filtered_hard_ranks(scores, easy, hard), qtypes).collect())
                if sp is not None:
                    sp.counts["answers"] = sum(len(x["hard"]) for x in insts)
            t3 = time.perf_counter()
        op.output = {"counts": counts, "cqd": cqd, "lmpnn": lmpnn}
        op.latency = t3 - t0
        op.parts = {"exact": t1 - t0, "cqd": t2 - t1, "lmpnn": t3 - t2}

    def check(self, op: Op) -> bool:
        insts = op.spec["instances"]
        # exact counts against DuckDB over the same dense triples
        want = {}
        for shape in SHAPES:
            rows = [x for x in insts if x["shape"] == shape]
            inst = pd.DataFrame(
                {"qid": [x["qid"] for x in rows],
                 **{k: [x["bindings"].get(k, -1) for x in rows] for k in ("r1", "r2", "s1", "s2")}}
            )
            want.update(self.duck.counts(SHAPES[shape][0], inst))
        got = {(q, t): n for q, t, n in op.output["counts"]}
        if got != want or len(got) != len(op.output["counts"]):
            return False
        # CQD and LMPNN replayed in NumPy from the same store, ranked in NumPy
        ent, rel = self.store.ent, self.store.rel
        everyone = np.arange(ent.shape[0])
        graphs = []
        for x in insts:
            b, nodes, edges = x["bindings"], {}, []
            for src, dst, sym, neg in SHAPES[x["shape"]][1]:
                for t in (src, dst):
                    nodes[t] = b[t] if t.startswith("s") else None
                edges += [(src, dst, b[sym], neg), (dst, src, b[sym] ^ 1, neg)]
            graphs.append({"qid": x["qid"], "nodes": nodes, "edges": edges, "free": "f"})
        lm = reference.lmpnn_replay(ent, rel, self.lmpnn.var_vec, graphs)

        def cqd_scores(x):
            return everyone, reference.cqd_replay(ent, rel, SHAPES[x["shape"]][1], x["bindings"], BEAM)

        return reference.metrics_match(
            op.output["cqd"], _reference_metrics(insts, cqd_scores, eps=1e-6)
        ) and reference.metrics_match(
            op.output["lmpnn"], _reference_metrics(insts, lambda x: (everyone, lm[x["qid"]]), eps=1e-5)
        )

    def summary(self, ops: list[Op]) -> dict:
        n = ops[0].items

        def ips(part: str) -> float:
            return n / float(np.median([o.parts[part] for o in ops]))

        return {
            "qaa_exact_ips": ips("exact"),
            "cqd_ips": ips("cqd"),
            "lmpnn_ips": ips("lmpnn"),
            "num_entities": self.num_entities,
        }


def _metric_rows(rows) -> dict[str, dict[str, float]]:
    return {r["qtype"]: {k: float(r[k]) for k in ("mrr", "hit1", "hit3", "hit10")} for r in rows}


def _reference_metrics(insts, scores_of, eps):
    ranks, qtype = {}, {}
    for x in insts:
        ent, score = scores_of(x)
        ranks[x["qid"]] = reference.filtered_rank_bounds(ent, score, x["easy"], x["hard"], eps)
        qtype[x["qid"]] = x["lstr"]
    return reference.mrr_hits_bounds(ranks, qtype)


WORKLOADS = {w.name: w for w in (EfoInteractive, NeuralEval)}


# -- the measuring loop -----------------------------------------------------


def start_session(work: Path, event_log: Path | None):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    # stated either way: SparkSession.builder keeps options across sessions
    conf["spark.eventLog.enabled"] = "false" if event_log is None else "true"
    if event_log is not None:
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = str(event_log)
    spark = get_spark(
        app_name="perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed_op(wl: Workload, spark, op: Op) -> Op:
    """Run one operation; an exception or a timeout fails it."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        wl.run_op(spark, op)
    except Exception:  # noqa: BLE001 - the op boundary must keep running
        op.error = traceback.format_exc()
        op.latency = time.perf_counter() - t0
        print(f"operation {op.index} failed:\n{op.error}", file=sys.stderr)
    finally:
        timer.cancel()
    return op


@dataclass
class RunResult:
    setup_s: list[float]
    session_s: list[float]
    ops: list[Op]
    warmup: list[Op]
    failed: int
    attempted: int
    peak_rss_mb: float
    extra: dict


def run_workload(
    name: str,
    seed: int,
    seconds: float,
    cfg: Config,
    data_dir: Path,
    work: Path,
    tracer: Tracer,
    event_log: Path | None,
    corrupt: bool = False,
) -> RunResult:
    wl = WORKLOADS[name](cfg, data_dir, work, seed, tracer)
    spark = None
    setup_s, session_s, phase_s = [], [], {}
    failed = attempted = 0
    t_run = time.perf_counter()
    try:
        t_phase = time.perf_counter()
        for rep in range(cfg.setup_reps):
            if spark is not None:
                tracer.sc = None
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span("session"):
                spark = start_session(work, event_log)
            tracer.bind(spark)
            t1 = time.perf_counter()
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
            session_s.append(t1 - t0)
        setup_ok = wl.check_setup()
        if setup_ok is not None:
            attempted += 1
            failed += not setup_ok
        phase_s["setup"] = time.perf_counter() - t_phase

        t_phase = time.perf_counter()
        warm = [_timed_op(wl, spark, op) for _ in range(cfg.warmup_cycles) for op in wl.warmup_ops()]
        phase_s["warmup"] = time.perf_counter() - t_phase

        t_phase = time.perf_counter()
        ops: list[Op] = []
        # whole cycles only, so every run weighs the shapes alike; at
        # least min_cycles, so a run on a slow spell of the host still
        # reaches the faster later cycles instead of stopping early
        while (
            len(ops) < cfg.cycle * cfg.min_cycles
            or len(ops) % cfg.cycle
            or time.perf_counter() - t_phase < seconds
        ) and time.perf_counter() - t_run < RUN_DEADLINE_S:
            tracer.run = len(ops)
            ops.append(_timed_op(wl, spark, wl.next_op(len(ops))))
        tracer.run = None
        peak = peak_rss_mb()
        phase_s["window"] = time.perf_counter() - t_phase

        t_phase = time.perf_counter()
        if corrupt and ops and ops[0].error is None:
            _corrupt(ops[0])
        for op in warm + ops:
            attempted += 1
            ok = op.error is None
            if ok:
                try:
                    ok = wl.check(op)
                except Exception:  # noqa: BLE001 - a broken output is a failed op
                    traceback.print_exc()
                    ok = False
            if not ok:
                failed += 1
                if op.error is None:
                    print(f"operation {op.index} gave a wrong answer", file=sys.stderr)
        good = [op for op in ops if op.error is None]
        extra = wl.summary(good) if good else {}
        phase_s["check"] = time.perf_counter() - t_phase
    finally:
        if spark is not None:
            spark.stop()
        wl.close()
    print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phase_s.items()), file=sys.stderr)
    return RunResult(setup_s, session_s, ops, warm, failed, attempted, peak, extra)


def _corrupt(op: Op) -> None:
    """Deliberately wrong output, for the benchmark's own tests."""
    if isinstance(op.output, set):
        op.output.add(-1)
    else:
        q, t, n = op.output["counts"][0]
        op.output["counts"][0] = (q, t, n + 1)
