"""All-headline plan census -> plans/r{N}/plan_census.tsv.

Per benched query: parquet-scan count, Exchange count, row-Python
(BatchEvalPython) and Arrow (ArrowEvalPython/MapInArrow/mapInPandas)
node counts from the FORMATTED physical plan, plus notes: `ckptxN`
when the plan reads N lazily-localCheckpointed relations (a 0-scan
row means checkpoint-backed, not free) and `BIGxN` when one table is
scanned >= 4 times (the duplicated-lineage detector).

    python tools/plan_census.py [--dump DIR] plans/r18/plan_census.tsv [sf_dir]

`--dump DIR` also writes each query's formatted plan to
`DIR/<query>.txt`, normalized (expression ids, RDD/plan ids,
application ids and session-scratch paths stripped) so two sessions
over the same code compare equal. Plan identity of a refactor is then

    diff -r before/ after/
"""

from __future__ import annotations

import io
import contextlib
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.abspath(__file__)), ".."))


_IDS = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
]


def normalize_plan(text: str, app_id: str, workspace: str) -> str:
    """The formatted plan minus everything that differs between two
    sessions running the same code: expression ids, RDD and plan ids,
    and the application id / workspace root that prefix every
    session-scoped artifact path (layout tables, session parquet)."""
    text = text.replace(workspace, "<workspace>").replace(app_id, "<app>")
    for rx, sub in _IDS:
        text = rx.sub(sub, text)
    return text


def main(argv: list[str]) -> int:
    dump_dir = None
    if argv[:1] == ["--dump"]:
        dump_dir, argv = argv[1], argv[2:]
    out_path = argv[0] if argv else "plans/r18/plan_census.tsv"
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"

    import bench

    from mapreduce_go_spark import registry
    from mapreduce_go_spark.session import get_spark
    from mapreduce_go_spark.workspace import _workspace_dir

    spark = get_spark(app_name="plan-census")
    app_id = spark.sparkContext.applicationId
    workspace = os.path.abspath(_workspace_dir())
    queries = registry.all_queries()
    rows = []
    for name in bench.HEADLINE:
        if name not in queries:
            continue
        try:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
            if dump_dir:
                os.makedirs(dump_dir, exist_ok=True)
                with open(os.path.join(dump_dir, f"{name}.txt"),
                          "w") as fh:
                    fh.write(normalize_plan(p, app_id, workspace))
        except Exception as e:  # noqa: BLE001 — census must complete
            rows.append((name, -1, -1, -1, -1,
                         f"ERROR {type(e).__name__}: {e}"[:120]))
            continue
        scans = len(re.findall(r"Scan parquet", p))
        exch = len(re.findall(r"Exchange", p))
        row_udf = len(re.findall(r"BatchEvalPython", p))
        arrow = len(re.findall(r"ArrowEvalPython|MapInArrow|MapInPandas",
                               p))
        notes = []
        ckpts = len(set(re.findall(r"MapPartitionsRDD\[\d+\]", p)))
        if ckpts:
            notes.append(f"ckptx{ckpts}")
        tabs: dict = {}
        for loc in re.findall(r"Location: \S+ \[file:([^\]]*)\]", p):
            base = os.path.basename(loc.rstrip("/"))
            tabs[base] = tabs.get(base, 0) + 1
        for base, n in sorted(tabs.items()):
            if n >= 4:
                notes.append(f"{base}x{n}")
        rows.append((name, scans, exch, row_udf, arrow,
                     ",".join(notes)))
        spark.catalog.clearCache()
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write("query\tscans\texchanges\trow_udf_nodes\t"
                 "arrow_nodes\tnotes\n")
        for r in rows:
            fh.write("\t".join(map(str, r)) + "\n")
    n_rowudf = sum(1 for r in rows if isinstance(r[3], int) and r[3] > 0)
    print(f"{len(rows)} queries; {n_rowudf} with row-Python nodes;"
          f" wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
