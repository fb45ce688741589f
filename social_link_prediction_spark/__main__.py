"""EP1 CLI entry point: ``python -m social_link_prediction_spark``.

Mirrors the reference's ``main.py`` command dispatch
(/root/reference/main.py:74-90 — ``--etl`` runs scripts/etl_run.py,
``--train`` runs scripts/train_model.py; bare invocation prints
usage) plus an ``--analyze A B`` command exposing the
AnalysisService.find_connection flow the reference serves through its
Streamlit UI (presentation/app.py; the tab bodies are 0-byte stubs,
so the service call IS the authoritative behavior).

Commands:
  --etl [--raw DIR] [--warehouse DIR]
      Extraction → transformation → warehouse write. The extraction
      stage is the reference's fetch_all_relationships loop
      (scripts/etl_run.py:13-24) run against a FETCHER; offline (the
      default, and the only mode in this container) a deterministic
      fixture fetcher stands in for the Wikidata endpoint, exactly as
      the test suite does — production wires sources.paginated
      .http_fetcher() in one line. Raw per-relation JSON lands in
      --raw, is flattened by read_sparql_json, cleaned/deduped by
      run_transformer, and written as nodes/ + edges/ parquet
      (partitioned by relationship_label) under --warehouse.
  --train [--warehouse DIR] [--model-dir DIR]
      Leakage-safe link split + negative sampling + MLlib pipeline
      fit over pair features; prints AUC/AP and saves the model
      (replaces scripts/train_model.py's torch loop — SURVEY §7.4.3).
  --analyze NAME_A NAME_B [--warehouse DIR]
      Fuzzy-resolve both names, weighted shortest path, decorated
      steps (reference analysis_service.py:100-187).

Everything runs on a local SparkSession by default; spark-submit the
module for cluster runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


# ---------------------------------------------------------------------
# Offline fixture fetcher: a deterministic stand-in for the Wikidata
# SPARQL endpoint. Emits the same results.bindings envelope the HTTP
# fetcher returns, varying rows by the relation snippet found in the
# query — enough structure for the cleaning/dedup stages to have real
# work (reverse dup, exact dup, malformed URI, unresolved label).
# ---------------------------------------------------------------------
_FIXTURE_PEOPLE = [
    ("Q1", "Ada Lovelace"), ("Q2", "Charles Babbage"),
    ("Q3", "Grace Hopper"), ("Q4", "Alan Turing"),
    ("Q5", "Katherine Johnson"), ("Q6", "Annie Easley"),
]
_FIXTURE_ORGS = [("Q100", "Analytical Society"), ("Q101", "Bletchley Park")]

_RELATION_SNIPPETS = {
    "spouse": "?person wdt:P26 ?object .",
    "educated_at": "?person wdt:P69 ?object .",
    "influenced_by": "?person wdt:P737 ?object .",
}


def _uri(qid: str) -> str:
    return f"http://www.wikidata.org/entity/{qid}"


def _binding(p, pl, o, ol, sub_o="human"):
    return {
        "person": {"type": "uri", "value": _uri(p) if p.startswith("Q") else p},
        "personLabel": {"type": "literal", "xml:lang": "en", "value": pl},
        "personSubType": {"type": "literal", "value": "human"},
        "object": {"type": "uri", "value": _uri(o) if o.startswith("Q") else o},
        "objectLabel": {"type": "literal", "xml:lang": "en", "value": ol},
        "objectSubType": {"type": "literal", "value": sub_o},
    }


def fixture_fetcher(query: str) -> list[dict]:
    """Deterministic offline stand-in for the SPARQL endpoint —
    returns one page of bindings for whichever relation snippet the
    query carries (pagination sees a short page and stops)."""
    p = _FIXTURE_PEOPLE
    if "P26" in query:  # spouse: a chain plus dirty rows
        rows = [
            _binding(p[0][0], p[0][1], p[1][0], p[1][1]),
            _binding(p[1][0], p[1][1], p[0][0], p[0][1]),  # reverse dup
            _binding(p[0][0], p[0][1], p[1][0], p[1][1]),  # exact dup
            _binding(p[2][0], p[2][1], p[3][0], p[3][1]),
            _binding("not-a-uri", "Junk", p[4][0], p[4][1]),  # bad URI
            _binding(p[5][0], "Q6", p[4][0], p[4][1]),  # unresolved label
        ]
    elif "P69" in query:  # educated_at: people -> orgs (Q101 shared,
        # so distant people connect through the institution)
        rows = [
            _binding(p[0][0], p[0][1], *_FIXTURE_ORGS[0],
                     "educational_institution"),
            _binding(p[0][0], p[0][1], *_FIXTURE_ORGS[1],
                     "educational_institution"),
            _binding(p[3][0], p[3][1], *_FIXTURE_ORGS[1],
                     "educational_institution"),
        ]
    elif "P737" in query:  # influenced_by
        rows = [
            _binding(p[1][0], p[1][1], p[0][0], p[0][1]),
            _binding(p[3][0], p[3][1], p[2][0], p[2][1]),
        ]
    else:
        rows = []
    # year-interval predicate injection partitions the keyspace; the
    # fixture returns everything in the FIRST interval and empties the
    # rest so the paginated union sees realistic short pages
    if "YEAR" in query and "> 1800" not in query:
        return []
    return rows


def _get_spark(app: str):
    from social_link_prediction_spark.session import get_spark

    return get_spark(app)


def run_etl(raw_dir: str, warehouse: str, quiet: bool = False) -> dict:
    """EP1: extract (fixture fetcher) → flatten → clean/dedup →
    nodes/edges parquet. ``quiet`` suppresses the CLI's stdout JSON
    line (the driver-gated etl_pipeline_counts query runs this inside
    a correctness harness whose stdout must stay clean)."""
    from pyspark.sql import functions as F

    from social_link_prediction_spark.pipelines import transformer as tr
    from social_link_prediction_spark.sources import json_flatten as jf
    from social_link_prediction_spark.sources import paginated as pg

    counts = pg.fetch_all_relationships(
        "SELECT * WHERE { ##FIND_HOOK## ##YEAR_FILTER_HOOK## }",
        _RELATION_SNIPPETS,
        fixture_fetcher,
        raw_dir,
        start=1800,
        end=1810,
        step=5,
        page_size=100,
    )
    spark = _get_spark("slp-etl")
    files = [
        os.path.join(raw_dir, f)
        for f in sorted(os.listdir(raw_dir))
        if f.startswith("raw_data_") and f.endswith(".json")
    ]
    raw = jf.read_sparql_json(spark, files)
    # S7: relation from the filename, the reference's files_config
    # (scripts/etl_run.py:20-23) — one typed union over all files
    raw = raw.withColumn(
        "relationshipLabel.value",
        F.regexp_extract(F.col("_source_file"), r"raw_data_(\w+)\.json", 1),
    )
    edges, nodes = tr.run_transformer(raw)
    edges.write.mode("overwrite").partitionBy("relationship_label").parquet(
        os.path.join(warehouse, "edges")
    )
    nodes.write.mode("overwrite").parquet(os.path.join(warehouse, "nodes"))
    out = {
        "raw_counts": counts,
        "edges": spark.read.parquet(os.path.join(warehouse, "edges")).count(),
        "nodes": spark.read.parquet(os.path.join(warehouse, "nodes")).count(),
        "warehouse": warehouse,
    }
    if not quiet:
        print(json.dumps(out))
    return out


def _load_graph(spark, warehouse: str):
    from pyspark.sql import functions as F

    nodes = spark.read.parquet(os.path.join(warehouse, "nodes"))
    edges_raw = spark.read.parquet(os.path.join(warehouse, "edges"))
    edges = edges_raw.select(
        F.col("person").alias("src"),
        F.col("object").alias("dst"),
        F.col("relationship_label").alias("rel"),
    )
    return nodes, edges


def run_train(warehouse: str, model_dir: str) -> dict:
    """EP1b: split → negative-sample → fit → evaluate → save."""
    from social_link_prediction_spark.ml import linksplit as ls
    from social_link_prediction_spark.ml import predict as mlp

    spark = _get_spark("slp-train")
    nodes, edges = _load_graph(spark, warehouse)
    train, val, test = ls.link_split(edges, val_frac=0.1, test_frac=0.2)
    pos = train.select("src", "dst", "rel")
    neg = ls.negative_sample(pos, nodes.select("id"), ratio=1.0)
    labeled = pos.withColumn("label", _lit(1)).unionByName(
        neg.withColumn("label", _lit(0))
    )
    model, _feats = mlp.train_link_model(labeled, train)
    metrics = mlp.evaluate_link_model(model, labeled, train)
    model.write().overwrite().save(model_dir)
    out = {"model_dir": model_dir, **{k: round(v, 4) for k, v in metrics.items()}}
    print(json.dumps(out))
    return out


def _lit(v):
    from pyspark.sql import functions as F

    return F.lit(v)


def run_analyze(name_a: str, name_b: str, warehouse: str) -> dict:
    """EP2: find_connection(a, b) with decorated steps."""
    from social_link_prediction_spark.application import AnalysisService

    spark = _get_spark("slp-analyze")
    nodes, edges = _load_graph(spark, warehouse)
    svc = AnalysisService(nodes, edges)
    try:
        res = svc.find_connection(name_a, name_b)
        steps = res.pop("steps", None)
        print(json.dumps(res))
        if steps is not None:
            for row in steps.collect():
                print(
                    f"  {row.pos}: {row.node_name or row.node} "
                    f"-[{row.rel}/{row.direction}]-> {row.next_node}"
                )
    finally:
        svc.close()
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m social_link_prediction_spark",
        description="Social-link analytics engine (PySpark) — EP1 CLI",
    )
    ap.add_argument("--etl", action="store_true", help="run the ETL pipeline")
    ap.add_argument("--train", action="store_true", help="train the link model")
    ap.add_argument(
        "--analyze", nargs=2, metavar=("NAME_A", "NAME_B"),
        help="shortest decorated path between two names",
    )
    ap.add_argument("--raw", default="/tmp/slp_raw", help="raw JSON dir")
    ap.add_argument(
        "--warehouse", default="/tmp/slp_warehouse", help="parquet warehouse dir"
    )
    ap.add_argument("--model-dir", default="/tmp/slp_model", help="model save dir")
    args = ap.parse_args(argv)

    if args.etl:
        run_etl(args.raw, args.warehouse)
    elif args.train:
        run_train(args.warehouse, args.model_dir)
    elif args.analyze:
        run_analyze(args.analyze[0], args.analyze[1], args.warehouse)
    else:
        ap.print_help()
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
