"""CLI — command-for-command parity with the reference's MainRunner
(opentree/MainRunner.java:483-539, command table :500-519).

Usage: python -m treemachine_spark.cli <command> [args...]
"""

from __future__ import annotations

import argparse
import json
import sys


def _read_text(path: str) -> str:
    with open(path) as fh:
        return fh.read().strip()


def _write_text(path: str, text: str) -> None:
    with open(path, "w") as fh:
        fh.write(text + "\n")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="treemachine-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingestsynth", help="newick + json + tsv -> parquet store (MainRunner.java:502)")
    s.add_argument("newick")
    s.add_argument("annotations")
    s.add_argument("taxonomy")
    s.add_argument("dbname")

    s = sub.add_parser("listsynthtrees", help="list synth tree ids (MainRunner.java:505)")
    s.add_argument("dbname")

    s = sub.add_parser("extractdrafttree_name", help="full tree -> newick file (MainRunner.java:160-203)")
    s.add_argument("dbname")
    s.add_argument("outfile")

    s = sub.add_parser("nodeinfo", help="node blob by ot node id (MainRunner.java:507)")
    s.add_argument("dbname")
    s.add_argument("node_id")

    s = sub.add_parser("converttaxonomy", help="taxonomy tsv -> newick (MainRunner.java:250-367)")
    s.add_argument("taxonomy")
    s.add_argument("outfile")

    s = sub.add_parser("nexson2newick", help="NexSON -> newick (MainRunner.java:374-429)")
    s.add_argument("nexson")
    s.add_argument("outfile")

    s = sub.add_parser("exporttodot", help="DOT export (MainRunner.java:502 exporttodot)")
    s.add_argument("dbname")
    s.add_argument("outfile")
    s.add_argument("--start-node", default=None)

    s = sub.add_parser("exporttocsv", help="CSV edge dump (GraphExporter.dumpCSV)")
    s.add_argument("dbname")
    s.add_argument("outdir")
    s.add_argument("--start-node", default=None)

    s = sub.add_parser("mrpdump", help="MRP matrix (GraphExporter.getMRPDump)")
    s.add_argument("dbname")
    s.add_argument("outfile")

    s = sub.add_parser(
        "consolidate",
        help="merge per-tree stores into ONE synth_id-partitioned table set",
    )
    s.add_argument("store_dirs", nargs="+", help="per-tree store directories")
    s.add_argument("outdir")

    s = sub.add_parser(
        "deletetree",
        help="drop one synth tree's partition from a single store (GraphBase.deleteTreeBySource:312-370)",
    )
    s.add_argument("dbname", help="single-store directory (consolidate output)")
    s.add_argument("synth_id")

    s = sub.add_parser(
        "deletealltrees",
        help="drop every synth tree from a single store (GraphBase.deleteAllTrees:299-306)",
    )
    s.add_argument("dbname", help="single-store directory (consolidate output)")

    s = sub.add_parser(
        "serve",
        help="HTTP server for the v3/v2 tree_of_life endpoints (the reference's plugin surface)",
    )
    s.add_argument("dbname")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=1984)
    s.add_argument(
        "--cache-size",
        type=int,
        default=256,
        help="LRU response-cache entries (0 disables; snapshot-safe — "
        "api/server.py swap_store invalidates on republish)",
    )
    s.add_argument(
        "--stats-sketch",
        default=None,
        metavar="PATH:COL:GROUP[,GROUP...][:K]",
        help="serve POST /v3/stats/quantiles from the streaming quantile "
        "sketch table at PATH (streaming/stats.py partial-sketch layout), "
        "e.g. /data/tokstats:n:lang. A table with a persisted "
        "_sketch_config.json supplies its own k (the trailing :K must "
        "then agree); :K exists for LEGACY config-less tables, where "
        "serving with a k other than the writer's silently biases "
        "quantiles",
    )
    s.add_argument(
        "--distinct-sketch",
        default=None,
        metavar="PATH:COL:GROUP[,GROUP...][:P]",
        help="serve POST /v3/stats/distinct from the streaming HLL "
        "register table at PATH (streaming/stats.StreamingHLLSketch "
        "layout), e.g. /data/userstats:user_id:event_type. :P is the "
        "LEGACY-table escape hatch like --stats-sketch's :K",
    )
    s.add_argument(
        "--topk-sketch",
        default=None,
        metavar="PATH:COL[:DEPTH:WIDTH:C]",
        help="serve POST /v3/stats/topk from the streaming Count-Min "
        "heavy-hitters table at PATH (streaming/stats.StreamingTopKSketch "
        "layout), e.g. /data/hotkeys:url. :DEPTH:WIDTH:C is the "
        "LEGACY-table escape hatch (a config-bound table supplies its "
        "own; a width other than the writer's probes the wrong cells)",
    )
    s.add_argument(
        "--dedup-index",
        default=None,
        metavar="DOCS_PARQUET[:IDX_DIR]",
        help="serve POST /v3/documents/duplicates over the documents "
        "parquet: exact-Jaccard decontamination lookup for request "
        "texts, membership probe for corpus doc_ids. With a persisted "
        "shingle-index directory (cli dedupbuild output), requests "
        "bucket-prune the on-disk index and cold boot skips the corpus "
        "shingling pass",
    )
    s.add_argument(
        "--ann-index",
        default=None,
        metavar="EMB_PARQUET[:PQ_DIR]",
        help="serve POST /v3/similarity/topk over the embeddings parquet "
        "(cached corpus; brute/ivf methods), optionally with a persisted "
        "PQ index directory (cli pqbuild output) enabling method=pq",
    )

    s = sub.add_parser(
        "route",
        help="shard router: forward tree_of_life requests to worker "
        "serve processes by synth_id (api/router.py). POOLS is "
        "synth_id=url[,url...] repeated; the first pool is the default",
    )
    s.add_argument("pools", nargs="+", metavar="synth_id=url[,url...]")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=1985)
    s.add_argument(
        "--ann-shard",
        action="append",
        default=[],
        metavar="url[,url...]",
        help="one ANN corpus shard's replica pool (repeatable; disjoint "
        "corpus slices). /v3/similarity/topk then scatter-gathers: one "
        "replica per shard, merged top-k (api/router.scatter_topk)",
    )
    s.add_argument(
        "--dedup-shard",
        action="append",
        default=[],
        metavar="url[,url...]",
        help="one document corpus shard's replica pool (repeatable). "
        "/v3/documents/duplicates 'texts' lookups then scatter-gather "
        "(union of per-shard hits — exact); doc_ids probes are rejected "
        "as shard-local (api/router.scatter_duplicates)",
    )
    s.add_argument(
        "--stats-shard",
        action="append",
        default=[],
        metavar="url[,url...]",
        help="one STREAM shard's replica pool (repeatable): workers each "
        "maintaining a running sketch over a disjoint ingest-stream "
        "slice. /v3/stats/{quantiles,distinct,profile,topk} then fan ONE "
        "/v3/stats/state request out and merge raw sketch state with the "
        "exact merge laws (api/router.scatter_stats) — quantiles equal "
        "the union-stream answer bit-for-bit",
    )

    s = sub.add_parser(
        "rfdist",
        help="Robinson-Foulds distance between two newick trees, matched "
        "on tip names (graph/compare.py; the reference has no whole-tree "
        "disagreement metric)",
    )
    s.add_argument("newick_file1")
    s.add_argument("newick_file2")

    for name, hlp in [
        ("reroot", "reroot a newick tree at a named node (JadeTree.reRoot:227-250)"),
        ("unroot", "collapse a binary root to a trifurcation (JadeTree.unRoot:212-218)"),
        ("prunetip", "prune a named leaf (JadeTree.pruneExternalNode:466-510)"),
    ]:
        s = sub.add_parser(name, help=hlp)
        s.add_argument("newick_file")
        s.add_argument("node_name")
        s.add_argument("outfile")

    s = sub.add_parser(
        "consensus",
        help="majority-rule consensus of several newick files "
        "(graph/consensus.py; no reference analog)",
    )
    s.add_argument("newick_files", nargs="+")
    s.add_argument("outfile")
    s.add_argument("--threshold", type=float, default=0.5)

    s = sub.add_parser(
        "sql",
        help="run ANSI SQL over the tables + served graph views "
        "(io/catalog.register_views); prints JSON lines",
    )
    s.add_argument("sf_dir", help="parquet table directory (testdata layout)")
    s.add_argument("query")
    s.add_argument("--limit", type=int, default=100)
    s.add_argument(
        "--no-graph", action="store_true", help="skip graph-view ingest"
    )

    s = sub.add_parser(
        "stats",
        help="one-pass ANALYZE-style column statistics for one table",
    )
    s.add_argument("sf_dir")
    s.add_argument("table")

    s = sub.add_parser(
        "sketchmaintain",
        help="maintenance for a streaming sketch table "
        "(streaming/stats.py): fold partials into a versioned compact "
        "snapshot (safe while the stream runs) and optionally vacuum "
        "folded partitions (maintenance window only)",
    )
    s.add_argument("path", help="partial-sketch table root")
    s.add_argument("col")
    s.add_argument(
        "groups",
        help="comma-separated group columns (ignored for --family topk — "
        "pass '-')",
    )
    s.add_argument(
        "--family",
        choices=["quantile", "hll", "topk"],
        default=None,
        help="which sketch family wrote the table — LEGACY tables only "
        "(no _sketch_config.json; default quantile); a table with a "
        "persisted config compacts with its own family/params, and an "
        "explicitly-given flag that disagrees is an error",
    )
    s.add_argument(
        "--keep",
        type=int,
        default=4096,
        help="rows kept per group by the compacting fold — LEGACY "
        "quantile tables only. Must be >= the writer's k: larger only "
        "over-retains (the read-time fold re-truncates; bottom-k "
        "re-takes are truncation-stable), smaller would drop state the "
        "serving fold still needs. hll compaction is parameter-free and "
        "topk compaction retains ALL candidates (top-C-by-count is not "
        "truncation-stable — see StreamingTopKSketch._fold_compact). "
        "Tables with a persisted config use their own params",
    )
    s.add_argument(
        "--assume-idle",
        action="store_true",
        help="fold the newest partition too (only when no stream is "
        "writing — it may be an in-flight or replayable micro-batch)",
    )
    s.add_argument(
        "--vacuum",
        action="store_true",
        help="delete folded per-batch partitions + old compact versions "
        "(breaks readers pinned to older compact manifests)",
    )
    s.add_argument(
        "--vacuum-orphans",
        action="store_true",
        help="with --vacuum, also reclaim compact data dirs referenced by "
        "no manifest (crash leftovers). Only safe when NO compact can be "
        "in flight: an unpublished concurrent compact's dir looks "
        "identical to a crash orphan",
    )

    s = sub.add_parser(
        "pqbuild",
        help="build + persist a product-quantization index for the "
        "embeddings table (functions/pq.py): codebook.json + the "
        "m-ints-per-vector codes parquet — the ingest artifact IVF-PQ "
        "serving scans instead of the float vectors",
    )
    s.add_argument("sf_dir")
    s.add_argument("out_dir")
    s.add_argument("--m", type=int, default=8, help="subvector count")
    s.add_argument("--codes", type=int, default=16, help="codes per subspace")
    s.add_argument(
        "--train-rows",
        type=int,
        default=10_000,
        help="deterministic training-sample bound (smallest ids)",
    )
    s.add_argument(
        "--opq",
        action="store_true",
        help="learn an OPQ rotation before quantizing (Ge et al. 2013) — "
        "better recall at identical bytes on clustered/correlated "
        "embedding corpora; rotation persists inside codebook.json",
    )
    s.add_argument(
        "--n-centroids",
        type=int,
        default=None,
        help="also persist the IVF cell assignment (cells.parquet "
        "partitioned by cell + centroids.parquet) so `serve --ann-index` "
        "cold-starts without re-running the corpus x centroids argmax",
    )

    s = sub.add_parser(
        "dedupbuild",
        help="build + persist the inverted shingle index for the "
        "documents table, bucketed by shingle hash "
        "(functions/dedup.write_shingle_index): duplicates requests "
        "against `serve --dedup-index DOCS:IDX_DIR` prune whole bucket "
        "directories at the parquet scan",
    )
    s.add_argument("sf_dir")
    s.add_argument("out_dir")
    s.add_argument("--k", type=int, default=3, help="shingle width (words)")
    s.add_argument(
        "--n-buckets",
        type=int,
        default=512,
        help="shingle-hash bucket count (pruning selectivity vs file count)",
    )
    s.add_argument(
        "--max-doc-freq",
        type=int,
        default=None,
        help="bake the d7 capped shingle space into the artifact: drop "
        "shingles appearing in more docs than this (stop shingles) and "
        "store sizes over the survivors — requests then skip web-scale "
        "posting lists; the dropped shingles persist in stoplist.parquet",
    )

    s = sub.add_parser(
        "minhashbuild",
        help="build + persist the minhash LSH index for the documents "
        "table (functions/dedup.write_minhash_index): signature + "
        "shingle-hash sets per doc — near-dup batches then serve from "
        "the stored table (minhash_near_dup_pairs(sig=)) without "
        "re-shingling",
    )
    s.add_argument("sf_dir")
    s.add_argument("out_dir")
    s.add_argument("--k", type=int, default=3, help="shingle width (words)")
    s.add_argument(
        "--no-shingles",
        action="store_true",
        help="store signatures only (verify falls back to re-shingling)",
    )

    args = p.parse_args(argv)

    # T14 tree surgery: request-scale driver-side mutations, no SparkSession
    if args.cmd in ("reroot", "unroot", "prunetip"):
        from treemachine_spark.graph.surgery import SurgeryTree

        tree = SurgeryTree.from_newick(_read_text(args.newick_file))
        node = tree.find(args.node_name)
        if args.cmd == "reroot":
            tree.reroot(node)
        elif args.cmd == "unroot":
            tree.unroot(node)
        else:
            tree.prune_external(node)
        _write_text(args.outfile, tree.to_newick())
        return 0

    if args.cmd == "route":
        # pure stdlib forwarder — no SparkSession in the router process
        from treemachine_spark.api.router import ShardRouter, make_router_server

        pools: dict[str, list[str]] = {}
        for spec in args.pools:
            synth_id, _, urls = spec.partition("=")
            if not urls:
                p.error(f"pool spec {spec!r} must be synth_id=url[,url...]")
            pools[synth_id] = urls.split(",")
        default_pool = pools[next(iter(pools))]
        ann_shards = [spec.split(",") for spec in args.ann_shard]
        dedup_shards = [spec.split(",") for spec in args.dedup_shard]
        stats_shards = [spec.split(",") for spec in args.stats_shard]
        srv = make_router_server(
            ShardRouter(
                pools, default_pool,
                ann_shards=ann_shards, dedup_shards=dedup_shards,
                stats_shards=stats_shards,
            ),
            host=args.host,
            port=args.port,
        )
        print(
            f"shard router on http://{args.host}:{srv.server_address[1]} -> "
            + ", ".join(f"{k}:{len(v)} worker(s)" for k, v in pools.items())
            + (f" + {len(ann_shards)} ANN shard(s)" if ann_shards else "")
            + (f" + {len(dedup_shards)} dedup shard(s)" if dedup_shards else "")
            + (f" + {len(stats_shards)} stats shard(s)" if stats_shards else "")
        )
        try:
            srv.serve_forever()
        finally:
            srv.server_close()
        return 0

    # pure-metadata admin mutations: partition drops need no SparkSession
    if args.cmd == "deletetree":
        from treemachine_spark.ingest import delete_tree

        delete_tree(args.dbname, args.synth_id)
        print(f"deleted tree '{args.synth_id}' from {args.dbname}")
        return 0

    if args.cmd == "deletealltrees":
        from treemachine_spark.ingest import delete_all_trees

        delete_all_trees(args.dbname)
        print(f"deleted all trees from {args.dbname}")
        return 0

    from treemachine_spark.session import get_spark

    spark = get_spark(f"treemachine-cli-{args.cmd}")

    if args.cmd == "consensus":
        from treemachine_spark.graph.consensus import majority_consensus

        texts = [_read_text(path) for path in args.newick_files]
        out = majority_consensus(spark, texts, threshold=args.threshold)
        _write_text(args.outfile, out)
        print(out)
        return 0

    if args.cmd == "sql":
        from treemachine_spark.io.catalog import register_views

        register_views(spark, args.sf_dir, include_graph=not args.no_graph)
        for row in spark.sql(args.query).limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "stats":
        from treemachine_spark.io.tables import load_tables
        from treemachine_spark.operators.stats import table_stats

        df = load_tables(spark, args.sf_dir)[args.table]
        for row in table_stats(df).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "dedupbuild":
        from treemachine_spark.functions.dedup import write_shingle_index
        from treemachine_spark.io.tables import load_tables

        docs = load_tables(spark, args.sf_dir)["documents"]
        n = write_shingle_index(
            docs, args.out_dir, k=args.k, n_buckets=args.n_buckets,
            max_doc_freq=args.max_doc_freq,
        )
        cap = (
            f", max_doc_freq={args.max_doc_freq}"
            if args.max_doc_freq is not None
            else ""
        )
        print(
            f"shingle index at {args.out_dir}: {n} rows, k={args.k}, "
            f"{args.n_buckets} buckets{cap}"
        )
        return 0

    if args.cmd == "minhashbuild":
        from treemachine_spark.functions.dedup import write_minhash_index
        from treemachine_spark.io.tables import load_tables

        docs = load_tables(spark, args.sf_dir)["documents"]
        n = write_minhash_index(
            docs, args.out_dir, k=args.k, with_shingles=not args.no_shingles
        )
        print(
            f"minhash index at {args.out_dir}: {n} rows, k={args.k}, "
            f"shingles={'no' if args.no_shingles else 'yes'}"
        )
        return 0

    if args.cmd == "pqbuild":
        from treemachine_spark.functions.pq import write_pq_index
        from treemachine_spark.io.tables import load_tables

        emb = load_tables(spark, args.sf_dir)["embeddings"]
        cb = write_pq_index(
            emb,
            args.out_dir,
            m=args.m,
            n_codes=args.codes,
            train_rows=args.train_rows,
            opq=args.opq,
            n_centroids=args.n_centroids,
        )
        parts = "codebook.json + codes.parquet" + (
            " + cells.parquet + centroids.parquet" if args.n_centroids else ""
        )
        print(
            f"pq index at {args.out_dir}: m={len(cb)} "
            f"n_codes={len(cb[0])}{' opq' if args.opq else ''} ({parts})"
        )
        return 0

    if args.cmd == "sketchmaintain":
        from treemachine_spark.streaming.stats import (
            StreamingHLLSketch,
            StreamingQuantileSketch,
            StreamingTopKSketch,
            open_sketch,
        )

        sk = open_sketch(args.path)
        if sk is not None:
            # the table's persisted config wins over --family/--keep —
            # but EVERY explicitly-given argument that disagrees is a
            # loud error, not a silent override (the serve-flag
            # contract): a col/groups/family typo means the operator is
            # maintaining a different table than they think
            fam = sk._config()["family"]
            mismatches = []
            if args.col != sk.col:
                mismatches.append(f"col={sk.col!r}")
            if sk.groups and args.groups != "-" and (
                args.groups.split(",") != sk.groups
            ):
                mismatches.append(f"groups={sk.groups}")
            if args.family is not None and args.family != fam:
                mismatches.append(f"family={fam!r}")
            if mismatches:
                raise SystemExit(
                    f"sketchmaintain: {args.path} was written with "
                    f"{', '.join(mismatches)} — the given args disagree"
                )
        elif (args.family or "quantile") == "hll":
            sk = StreamingHLLSketch(args.path, args.col, args.groups.split(","))
        elif args.family == "topk":
            sk = StreamingTopKSketch(args.path, args.col, n_candidates=args.keep)
        else:
            sk = StreamingQuantileSketch(
                args.path, args.col, args.groups.split(","), k=args.keep
            )
        v = sk.compact(spark, assume_idle=args.assume_idle)
        print(f"compact: {'version ' + str(v) if v else 'nothing new to fold'}")
        if args.vacuum:
            removed = sk.vacuum_partials(orphans=args.vacuum_orphans)
            print(f"vacuumed partial partitions: {removed}")
        return 0

    if args.cmd == "rfdist":
        from treemachine_spark.graph.compare import rf_distance_newick

        n1 = _read_text(args.newick_file1)
        n2 = _read_text(args.newick_file2)
        row = rf_distance_newick(spark, n1, n2).collect()[0]
        print(json.dumps(row.asDict()))
        return 0

    if args.cmd == "ingestsynth":
        from treemachine_spark.ingest import ingest_synthesis_data

        store = ingest_synthesis_data(
            spark, args.newick, args.annotations, args.taxonomy, out_dir=args.dbname
        )
        print(f"ingested tree '{store.tree_id}' -> {args.dbname}")
        return 0

    if args.cmd == "converttaxonomy":
        from treemachine_spark.exporters.exports import taxonomy_to_newick

        _write_text(args.outfile, taxonomy_to_newick(spark, args.taxonomy))
        return 0

    if args.cmd == "nexson2newick":
        from treemachine_spark.exporters.newick_sink import assemble_newick
        from treemachine_spark.sources.nexson import read_nexson_trees

        trees = read_nexson_trees(args.nexson)
        with open(args.outfile, "w") as fh:
            for t in trees:
                labels = {n.node_id: (n.label or "") for n in t.nodes}
                fh.write(assemble_newick(t.edges(), t.root_id, labels) + "\n")
        return 0

    if args.cmd == "consolidate":
        from treemachine_spark.ingest import load_store, write_single_store

        stores = [load_store(spark, d) for d in args.store_dirs]
        write_single_store(stores, args.outdir)
        print(f"consolidated {len(stores)} tree(s) -> {args.outdir}")
        return 0

    if args.cmd == "listsynthtrees":
        # L9 (GraphExplorer.getSynthTreeIDs:95-107); works on both layouts —
        # a consolidated single store (trees_meta.json) or a per-tree store
        import os

        if os.path.exists(os.path.join(args.dbname, "trees_meta.json")):
            from treemachine_spark.ingest import load_single_store

            for t in load_single_store(spark, args.dbname).tree_ids():
                print(t)
        else:
            from treemachine_spark.ingest import load_store

            print(load_store(spark, args.dbname).tree_id)
        return 0

    # remaining commands need a store
    from treemachine_spark.ingest import load_store

    store = load_store(spark, args.dbname)

    if args.cmd == "serve":
        from treemachine_spark.api.server import serve

        def _parse_sketch(spec, flag, cls, params, has_groups=True):
            """One shape for all three sketch serve flags: PATH:COL
            [:GROUPS][:param...]. The table's own persisted config wins
            (family + params come FROM the artifact — serving a k=64
            table as k=1024 is silently wrong, not conservative) and any
            explicit args must agree; a LEGACY (config-less) table takes
            the explicit trailing params, warning loudly when they are
            omitted and class defaults get assumed."""
            from treemachine_spark.streaming.stats import open_sketch

            base = 3 if has_groups else 2
            shape = (
                f"PATH:COL{':GROUP[,GROUP...]' if has_groups else ''}"
                f"[:{':'.join(p.upper() for p in params)}]"
            )
            parts = spec.split(":")
            if len(parts) == base:
                extras = None
            elif len(parts) == base + len(params):
                try:
                    extras = tuple(int(x) for x in parts[base:])
                except ValueError:
                    raise SystemExit(
                        f"{flag}: trailing params must be ints ({shape})"
                    ) from None
            else:
                raise SystemExit(f"{flag} expects {shape}")
            path, col = parts[0], parts[1]
            groups = parts[2].split(",") if has_groups else None
            sk = open_sketch(path)
            if sk is not None:
                mine = tuple(getattr(sk, p) for p in params)
                ok = (
                    type(sk) is cls
                    and sk.col == col
                    and (not has_groups or sk.groups == groups)
                    and (extras is None or extras == mine)
                )
                if not ok:
                    raise SystemExit(
                        f"{flag}: {path} was written as "
                        f"{type(sk).__name__}(col={sk.col!r}, "
                        f"groups={sk.groups}, "
                        f"{'/'.join(params)}={mine}) — the given args disagree"
                    )
                return sk
            # LEGACY (config-less) table: the caller owns the params —
            # and assuming class defaults is the silent-bias hazard the
            # config binding exists to kill, so say so out loud
            kwargs = dict(zip(params, extras)) if extras is not None else {}
            sk = cls(path, col, groups, **kwargs) if has_groups else cls(
                path, col, **kwargs
            )
            if extras is None:
                assumed = {p: getattr(sk, p) for p in params}
                print(
                    f"WARNING: {flag}: {path} has no _sketch_config.json "
                    f"(pre-r10 table); assuming {assumed} — if the writer "
                    f"used different params, answers will be silently "
                    f"wrong: pass {shape}",
                    file=sys.stderr,
                )
            return sk

        sketch = None
        if args.stats_sketch:
            from treemachine_spark.streaming.stats import (
                StreamingQuantileSketch,
            )

            sketch = _parse_sketch(
                args.stats_sketch, "--stats-sketch",
                StreamingQuantileSketch, ("k",),
            )
        dsketch = None
        if args.distinct_sketch:
            from treemachine_spark.streaming.stats import StreamingHLLSketch

            dsketch = _parse_sketch(
                args.distinct_sketch, "--distinct-sketch",
                StreamingHLLSketch, ("p",),
            )
        tsketch = None
        if args.topk_sketch:
            from treemachine_spark.streaming.stats import StreamingTopKSketch

            tsketch = _parse_sketch(
                args.topk_sketch, "--topk-sketch", StreamingTopKSketch,
                ("depth", "width", "n_candidates"), has_groups=False,
            )
        dpi = None
        if args.dedup_index:
            from treemachine_spark.api.dedup import DedupIndex

            docs_path, _, idx_dir = args.dedup_index.partition(":")
            dpi = DedupIndex.from_path(
                store.nodes.sparkSession, docs_path, index_dir=idx_dir or None
            )
        ann = None
        if args.ann_index:
            from treemachine_spark.api.ann import AnnIndex

            emb_path, _, pq_dir = args.ann_index.partition(":")
            ann = AnnIndex.from_paths(
                store.nodes.sparkSession, emb_path, pq_dir or None
            )
        serve(
            store,
            host=args.host,
            port=args.port,
            cache_size=args.cache_size,
            stats_sketch=sketch,
            distinct_sketch=dsketch,
            ann_index=ann,
            dedup_index=dpi,
            topk_sketch=tsketch,
        )
    elif args.cmd == "extractdrafttree_name":
        from treemachine_spark.api.v3 import TreeOfLifeV3

        api = TreeOfLifeV3(store)
        res = api.subtree(node_id=store.root_id, label_format="name")
        _write_text(args.outfile, res["newick"])
    elif args.cmd == "nodeinfo":
        from treemachine_spark.api.v3 import TreeOfLifeV3

        api = TreeOfLifeV3(store)
        print(json.dumps(api.node_info(node_id=args.node_id), indent=2, sort_keys=True))
    elif args.cmd == "exporttodot":
        from treemachine_spark.exporters.exports import export_dot

        _write_text(args.outfile, export_dot(store, args.start_node))
    elif args.cmd == "exporttocsv":
        from treemachine_spark.exporters.exports import dump_csv

        dump_csv(store, args.outdir, args.start_node)
    elif args.cmd == "mrpdump":
        from treemachine_spark.exporters.exports import mrp_text

        _write_text(args.outfile, mrp_text(store))
    return 0


if __name__ == "__main__":
    sys.exit(main())
