"""MapReduce-compatible job runner: the reference's plugin contract as
a Spark-executed Python API.

The reference's entire user surface is two function signatures shipped
as Go plugins (SURVEY §2.3, /root/reference/main/mrworker.go:34-51):

    Map(filename string, contents string) []KeyValue
    Reduce(key string, values []string) string

`run_job` accepts the same pair as Python callables and executes the
classic pipeline — scan -> flat-map -> shuffle by key -> sorted group
-> holistic reduce -> "%v %v" text shards — on Spark:

- map phase: `mapInPandas` over (filename, contents) rows; Arrow
  batches, one Python interpreter per core (vs one plugin process per
  worker in the reference).
- shuffle + group: `repartition(key)` +
  `sortWithinPartitions` + per-partition adjacent grouping — the
  EXACT reduce-side algorithm of the reference (sort whole partition,
  two-pointer group scan, /root/reference/mr/worker.go:66-100),
  except Spark's sort spills to disk instead of slurping (SURVEY §4.2
  P4). The reduce width is the session's shuffle width, which AQE
  coalesces to the shuffle's size: every Python task pays a fixed
  worker start-up (~250-300 ms on a 4-core host) whatever its input,
  so a fixed R would run R of them even for a few hundred KB.
- holistic reduce contract honored: reducef sees the complete,
  sorted-by-key value list exactly once per key
  (/root/reference/mr/worker.go:90).
  AQE only merges whole hash partitions and never splits a column
  repartition, so each key stays in one task, sorted with the rest of
  that task's keys.
- output: R = `n_reduce` `mr-out` shards of "key value" lines, written
  atomically by Spark's task-commit protocol (replacing the temp+
  rename idiom, /root/reference/mr/worker.go:92-98).
  Shard i holds the keys with pmod(hash(key), R) == i in key order:
  the reference's ihash(key) % nReduce buckets, with Spark's murmur3
  in place of FNV. Only the reduced output is re-shuffled into the R
  shards, on the JVM.

`run_sequential` is the mrsequential twin
(/root/reference/main/mrsequential.go:38-87): same pipeline, pure
Python, single process — it defines golden output for the
differential tests (tests/test_runner.py), mirroring
/root/reference/main/test-mr.sh:34,60.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MapF = Callable[[str, str], list[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]

_KV_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("value", StringType()),
])
_OUT_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("out", StringType()),
])


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver fixture corpus as (filename, contents) rows — the
    shape the reference's map UDF consumes
    (/root/reference/mr/worker.go:104-109)."""
    from mapreduce_go_spark import tables

    docs = tables.load(spark, sf_dir, "documents")
    return docs.select(
        F.col("source").alias("filename"), F.col("text").alias("contents")
    )


def corpus_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """Whole-text-file corpus: one row per file, exactly F1
    (/root/reference/mr/master.go:129-144). Uses wholeTextFiles so a
    file is never split mid-record."""
    rdd = spark.sparkContext.wholeTextFiles(path)
    schema = StructType([
        StructField("filename", StringType()),
        StructField("contents", StringType()),
    ])
    return spark.createDataFrame(rdd, schema)


def map_phase(corpus: DataFrame, mapf: MapF) -> DataFrame:
    """flat-map via Arrow-batched mapInPandas (F2)."""

    def apply_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[str, str]] = []
            for fn, ct in zip(pdf["filename"], pdf["contents"]):
                rows.extend(mapf(fn, ct))
            yield pd.DataFrame(rows, columns=["key", "value"])

    return corpus.mapInPandas(apply_map, _KV_SCHEMA)


def reduce_phase(kv: DataFrame, reducef: ReduceF) -> DataFrame:
    """shuffle (F3) + in-partition sort (F6) + adjacent group (F7) +
    holistic reduce (F8) on the session's AQE-sized shuffle: one
    Python task per coalesced partition, never a fixed count.

    Values arrive sorted within each key group
    only if the caller's reducef sorts them (same contract as the
    reference: reducers that need order sort explicitly, e.g.
    /root/reference/mrapps/indexer.go:37)."""

    def apply_reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One partition = one reduce task: stream adjacent key groups.
        # _NO_KEY sentinel, not None: a None used to double as both
        # "no group open" and a legitimate null key, silently merging
        # null-keyed rows into the NEXT key's value list (r14 review);
        # completed groups flush PER INPUT BATCH (the reference writes
        # each key as it reduces, worker.go:92) so task memory is
        # bounded by one batch + one open group, not the whole
        # partition's output.
        _NO_KEY = object()
        cur_key = _NO_KEY
        vals: list[str] = []
        for pdf in batches:
            out: list[tuple[str, str]] = []
            for k, v in zip(pdf["key"], pdf["value"]):
                if cur_key is not _NO_KEY and k != cur_key:
                    out.append((cur_key, reducef(cur_key, vals)))
                    vals = []
                cur_key = k
                vals.append(v)
            if out:
                yield pd.DataFrame(out, columns=["key", "out"])
        if cur_key is not _NO_KEY:
            yield pd.DataFrame([(cur_key, reducef(cur_key, vals))],
                               columns=["key", "out"])

    return (
        kv.repartition("key")
        .sortWithinPartitions("key")
        .mapInPandas(apply_reduce, _OUT_SCHEMA)
    )


def run_job(spark: SparkSession, corpus: DataFrame, mapf: MapF,
            reducef: ReduceF, n_reduce: int = 10,
            out_dir: str | None = None) -> DataFrame:
    """Full job. Returns the (key, out) DataFrame; when out_dir is
    given, also writes R = n_reduce mr-out-style text shards ("key
    out" lines; shard i holds the keys with pmod(hash(key), R) == i,
    in key order; atomic via Spark's commit protocol). R only shapes
    the output: the Python reduce runs on the AQE-sized shuffle, and
    the write re-shuffles the reduced output alone."""
    from mapreduce_go_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    result = reduce_phase(map_phase(corpus, mapf), reducef)
    if out_dir is not None:
        # persist before the text write: the write is its own action,
        # and an unpersisted handle would recompute the whole
        # map+shuffle+reduce on the caller's next action
        result = result.persist()
        (result.repartition(n_reduce, "key").sortWithinPartitions("key")
         .select(F.format_string("%s %s", "key", "out").alias("line"))
         .write.mode("overwrite").text(out_dir))
    return result


def run_sequential(corpus_rows: list[tuple[str, str]], mapf: MapF,
                   reducef: ReduceF) -> list[tuple[str, str]]:
    """The mrsequential oracle: read all -> map -> global sort ->
    adjacent group -> reduce (/root/reference/main/mrsequential.go:38-87)."""
    inter: list[tuple[str, str]] = []
    for filename, contents in corpus_rows:
        inter.extend(mapf(filename, contents))
    inter.sort(key=lambda kv: kv[0])
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(inter):
        j = i
        while j < len(inter) and inter[j][0] == inter[i][0]:
            j += 1
        values = [inter[k][1] for k in range(i, j)]
        out.append((inter[i][0], reducef(inter[i][0], values)))
        i = j
    return out


# --- the reference's app library, as Python map/reduce pairs -------------

def wc_map(filename: str, contents: str) -> list[tuple[str, str]]:
    """A1 wc map (/root/reference/mrapps/wc.go:21-34): letters-only
    tokens, case-sensitive, one ("word", "1") per occurrence. The
    token class is the shared NON_LETTER_RE constant — one
    tokenization contract across runner apps, DataFrame queries and
    oracles (r14 review: the regex was inlined here)."""
    import re

    from mapreduce_go_spark.functions.text import NON_LETTER_RE

    return [(w, "1") for w in re.split(NON_LETTER_RE, contents) if w]


def wc_reduce(key: str, values: list[str]) -> str:
    """A1 wc reduce (/root/reference/mrapps/wc.go:41-44)."""
    return str(len(values))


def indexer_map(filename: str, contents: str) -> list[tuple[str, str]]:
    """A2 indexer map (/root/reference/mrapps/indexer.go:20-31):
    per-doc dedup before emitting (word, docname)."""
    import re

    from mapreduce_go_spark.functions.text import NON_LETTER_RE

    seen = {w for w in re.split(NON_LETTER_RE, contents) if w}
    return [(w, filename) for w in seen]


def indexer_reduce(key: str, values: list[str]) -> str:
    """A2 indexer reduce (/root/reference/mrapps/indexer.go:36-39):
    "<count> doc1,doc2,..." with sorted docs."""
    return f"{len(values)} {','.join(sorted(values))}"


def crash_map(filename: str, contents: str) -> list[tuple[str, str]]:
    """A5/A6 payload map (/root/reference/mrapps/crash.go:34-43),
    crash behavior excluded (that's task-retry, tests/test_faults.py)."""
    return [
        # len of the UTF-8 BYTES: Go len(string) counts bytes
        # (crash.go:34-43); Python len(str) counts code points —
        # identical only on ASCII (r14 review)
        ("a", filename),
        ("b", str(len(filename.encode("utf-8")))),
        ("c", str(len(contents.encode("utf-8")))),
        ("d", "xyzzy"),
    ]


def crash_reduce(key: str, values: list[str]) -> str:
    """A5/A6 payload reduce (/root/reference/mrapps/crash.go:45-55)."""
    return " ".join(sorted(values))


APPS: dict[str, tuple[MapF, ReduceF]] = {
    "wc": (wc_map, wc_reduce),
    "indexer": (indexer_map, indexer_reduce),
    "crash": (crash_map, crash_reduce),
}
