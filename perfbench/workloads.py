"""The benchmark's workloads: which inputs each builds, which registry
queries and runner jobs one pass runs, and how the outputs are checked.

Every workload is closed-loop with one client: the next query is sent
only after the previous one has finished, with no think time.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from perfbench import inputs


@dataclass(frozen=True)
class Item:
    """One call per pass: a registry query (construct, then a noop-sink
    action) or a `runner.run_job` over the documents corpus."""
    name: str
    app: str | None = None      # runner.APPS key when this is a job
    writes: bool = False        # the job writes mr-out text shards


@dataclass(frozen=True)
class Workload:
    name: str
    items: tuple[Item, ...]
    tables: tuple[str, ...]     # input tables the cold pass loads first
    corpus_docs: int = 0        # Zipf corpus size; 0 = no corpus
    file_per_doc: bool = False
    star_sf: float = 0.0        # star-schema scale factor; 0 = none
    permute: bool = False       # the seed permutes item order per pass
    warmup_passes: int = 0      # untimed passes after the output checks


#: The star schema is the same on every run: relational's seed only
#: permutes query order, so its inputs match the fixed fixtures' role.
STAR_SEED = 42

_MR = (
    Item("run_job.wc", app="wc", writes=True),
    Item("run_job.indexer", app="indexer"),
    Item("wc"),
    Item("indexer"),
)

_RELATIONAL = (
    "pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "join_inner", "window_rank", "q3_shipping_priority_bucketed",
    "join_inner_bucketed",
)

_LLM = ("ann_ivf_pq_topk", "unigram_logprob_filter")

WORKLOADS = {
    w.name: w for w in (
        # the paper's own apps: Python map/reduce workers plus shuffle,
        # almost no planning cost and no session materializations
        Workload("mr_apps", _MR, ("documents",), corpus_docs=300,
                 file_per_doc=True),
        # JVM-only joins, windows and sorts: Catalyst, codegen and
        # shuffle, with bucketed layouts written in the cold pass
        Workload("relational", tuple(Item(n) for n in _RELATIONAL),
                 inputs.STAR_TABLES[:-1],  # all but events
                 star_sf=0.01, permute=True, warmup_passes=1),
        # ANN (ROADMAP item 3) and a checkpointing filter (item 4):
        # driver-side construction, jobs run while plans are built,
        # codebook training and layouts in the cold pass
        Workload("llm_pipeline", tuple(Item(n) for n in _LLM),
                 inputs.CORPUS_TABLES, corpus_docs=250, warmup_passes=4),
    )
}


def build_inputs(repo: str, w: Workload, in_dir: str, seed: int) -> None:
    if w.star_sf:
        inputs.write_star(in_dir, w.star_sf, STAR_SEED)
    if w.corpus_docs:
        inputs.write_corpus(repo, in_dir, w.corpus_docs, seed,
                            w.file_per_doc)


def _duckdb(in_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(in_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def check_queries(spark, queries, names, in_dir: str) -> dict[str, str]:
    """Each query against its registry oracle in DuckDB over the run's
    own inputs; a query without an oracle must return rows. Returns
    name -> "" when it passed, else the failure message."""
    from mapreduce_go_spark import registry
    from tests.helpers import compare

    os.environ["TEST_SF_DIR"] = in_dir
    con = _duckdb(in_dir)
    out = {}
    for name in names:
        try:
            df = queries[name](spark, in_dir)
            oracle = _oracle(registry, name)
            if oracle is not None:
                compare(df, con.execute(oracle), name)
            elif not df.count():
                raise AssertionError(f"{name}: 0 rows and no oracle")
            out[name] = ""
        except Exception as ex:  # a failed check is counted, not raised
            out[name] = f"{type(ex).__name__}: {ex}"[:500]
    return out


def _oracle(registry, name: str) -> str | None:
    """`registry.all_oracles()[name]` without evaluating every other
    query's lazy oracle (k-means training, video encoding), which costs
    seconds per run."""
    for mod in registry._load_modules():
        sql = getattr(mod, "ORACLES", {}).get(name)
        thunk = getattr(mod, "LAZY_ORACLES", {}).get(name)
        if sql is None and thunk is not None:
            sql = thunk()
        if sql is not None:
            return " ".join(sql.split())
    return None


def check_mr_apps(spark, queries, in_dir: str, mr_out: str) -> dict[str, str]:
    """The reference's test-mr.sh contract: every runner job matches the
    sequential run, the mr-out shards hold exactly its lines, and each
    DataFrame twin matches its runner job."""
    import pyarrow.parquet as pq

    from mapreduce_go_spark import runner

    docs = pq.read_table(os.path.join(in_dir, "documents.parquet"),
                         columns=["source", "text"]).to_pylist()
    rows = [(d["source"], d["text"]) for d in docs]
    twins = {
        "wc": ("wc", lambda r: (r["word"], str(r["cnt"]))),
        "indexer": ("indexer", lambda r: (r["word"],
                                          f"{r['df']} {r['docs']}")),
    }
    out = {}

    def record(name, fn):
        try:
            fn()
            out[name] = ""
        except Exception as ex:  # a failed check is counted, not raised
            out[name] = f"{type(ex).__name__}: {ex}"[:500]

    for app, (twin, as_kv) in twins.items():
        mapf, reducef = runner.APPS[app]
        want = sorted(runner.run_sequential(rows, mapf, reducef))

        def job(app=app, mapf=mapf, reducef=reducef, want=want):
            corpus = runner.corpus_from_documents(spark, in_dir)
            got = sorted(tuple(r) for r in
                         runner.run_job(spark, corpus, mapf, reducef)
                         .collect())
            _same(f"run_job.{app}", got, want)

        def twin_check(twin=twin, as_kv=as_kv, want=want):
            got = sorted(as_kv(r) for r in
                         queries[twin](spark, in_dir).collect())
            _same(twin, got, want)

        record(f"run_job.{app}", job)
        record(twin, twin_check)
        if app == "wc":
            def shards(want=want):
                lines = []
                for path in glob.glob(os.path.join(mr_out, "part-*")):
                    with open(path) as fh:
                        lines.extend(fh.read().splitlines())
                _same("mr-out", sorted(lines),
                      sorted(f"{k} {v}" for k, v in want))
            record("mr-out", shards)
    return out


def _same(name: str, got: list, want: list) -> None:
    if got != want:
        extra = sorted(set(got) - set(want))[:3]
        missing = sorted(set(want) - set(got))[:3]
        raise AssertionError(f"{name}: {len(got)} rows vs {len(want)} "
                             f"expected; extra={extra} missing={missing}")
