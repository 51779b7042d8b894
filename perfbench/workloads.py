"""The three benchmark workloads.

Each workload defines its generated inputs, the catalog step of its
set-up, and its operations. An operation is prepared untimed
(``next_call``), then the returned zero-argument call is timed, then its
output is read untimed (``observe``) into an observation for the DuckDB
oracle (oracle.py). Operations go through the program's public entry
points: ``dgraph_etl_spark.__main__.main([...])`` for the CLI jobs and
the ``functions/`` calls for curation.

``traced_call`` returns the same operation re-composed from the public
layer functions ``__main__`` calls, with a span around each layer and
each layer's output materialized at its boundary. It returns the same
output shape as the untimed CLI call, so the same checks apply.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import random
import shutil

from oracle import digest, edge_line

N_TEAMS = 25

PARAMS = {
    "etl_live": {
        "full": dict(events=50_000, persons=10_000, zipf_s=1.1, slices=100,
                     slice_s=21_600, pending_slices=50, row_group_rows=16_384),
        "tiny": dict(events=2_000, persons=300, zipf_s=1.1, slices=20,
                     slice_s=21_600, pending_slices=10, row_group_rows=16_384),
    },
    "graph_query": {
        "full": dict(events=50_000, persons=10_000, zipf_s=0.0, slices=8,
                     slice_s=21_600, pending_slices=0, row_group_rows=16_384),
        "tiny": dict(events=2_000, persons=300, zipf_s=0.0, slices=4,
                     slice_s=21_600, pending_slices=0, row_group_rows=16_384),
    },
    "neardup_curation": {
        "full": dict(docs=1_000, exact_frac=0.05, near_frac=0.05, vocab=2_000,
                     min_tokens=40, max_tokens=60, vecs=800, vec_near_frac=0.05,
                     vec_noise=0.03, doc_row_group_rows=256),
        "tiny": dict(docs=400, exact_frac=0.05, near_frac=0.05, vocab=2_000,
                     min_tokens=40, max_tokens=60, vecs=300, vec_near_frac=0.05,
                     vec_noise=0.03, doc_row_group_rows=128),
    },
}


def cli(argv: list[str]) -> dict:
    """Run one CLI job in this process; return its JSON result line."""
    from dgraph_etl_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"{argv[0]} exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _part_files(d: str, suffix: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, f"part-*{suffix}")))


def _text_digest(out_dir: str) -> list:
    def lines():
        for p in _part_files(out_dir, ".txt"):
            with open(p) as f:
                for line in f:
                    yield line.rstrip("\n")

    return digest(lines())


def _log_rows(sink_dir: str):
    for p in _part_files(sink_dir, ".ndjson"):
        with open(p) as f:
            for line in f:
                m = json.loads(line)
                yield edge_line(m["src"], m["dst"], m["score"])


class Ctx:
    """Per-run state shared by a workload's calls."""

    def __init__(self, spark, src: str, work: str, cpus: int, seed: int):
        self.spark = spark
        self.src = src
        self.work = work
        self.cpus = str(cpus)
        self.seed = seed
        with open(os.path.join(src, "meta.json")) as f:
            self.meta = json.load(f)


def _scan_and_edges(spark, src, tr, watermark):
    """The shared front half of bulk and etl (__main__._edges_since),
    each layer persisted at its boundary."""
    from pyspark.storagelevel import StorageLevel

    from dgraph_etl_spark.pipeline import edges as E
    from dgraph_etl_spark.pipeline import watermark as W
    from dgraph_etl_spark.views import derive_user_relationship
    from spans import plan_phases_s

    with tr.span("watermark.incremental_events_scan") as c:
        rel = derive_user_relationship(W.incremental_events_scan(spark, src, watermark))
        c["plan_s"] = plan_phases_s(rel)
        rel = rel.persist(StorageLevel.DISK_ONLY)
        kept = c["rows_kept"] = rel.count()
    with tr.span("edges.max_score_per_edge") as c:
        edges = E.max_score_per_edge(E.explode_bidirectional(rel)).persist(StorageLevel.DISK_ONLY)
        c["rows_out"] = edges.count()
        # explode_bidirectional emits exactly two edges per record
        c["rows_in"] = 2 * kept
    return rel, edges


class EtlLive:
    """The reference's two pipeline binaries on one growing stream: a
    full ``etl`` live load, append-and-resume ``etl`` increments, and a
    closing full ``bulk`` RDF export of the stream as it then stands."""

    name = "etl_live"
    round_len = 1
    # no untimed increments: warm increments are faster, but host steal
    # adds about the same absolute delay to each, so with a warm-up the
    # spread over ten seeds grew (0.25-0.26 in two sets, against
    # 0.13-0.24 without)
    warmup = 0

    def register(self, spark, src):
        pass  # cmd_etl reads the events directory directly; cmd_bulk registers its own views

    def prepare(self, ctx):
        """A fresh working source holding the base slices; pending
        slices are linked in one per increment."""
        ctx.wsrc = os.path.join(ctx.work, "etl_source")
        ctx.sink = os.path.join(ctx.work, "etl_sink")
        ctx.out = os.path.join(ctx.work, "triples.rdf")
        for d in (ctx.wsrc, ctx.sink):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(ctx.wsrc, "events.parquet"))
        os.makedirs(ctx.sink)
        ctx.present = _part_files(os.path.join(ctx.src, "events.parquet"), ".parquet")
        for p in ctx.present:
            _link(p, os.path.join(ctx.wsrc, "events.parquet", os.path.basename(p)))
        _link(os.path.join(ctx.src, "customer.parquet"), os.path.join(ctx.wsrc, "customer.parquet"))
        ctx.pending = _part_files(os.path.join(ctx.src, "pending"), ".parquet")
        ctx.watermark = 0

    def _advance(self, ctx, i) -> bool:
        """Append pending slice ``i`` (``None``: the full load appends
        nothing); False once the stream is exhausted."""
        if i is not None:
            if i >= len(ctx.pending):
                return False
            p = ctx.pending[i]
            _link(p, os.path.join(ctx.wsrc, "events.parquet", os.path.basename(p)))
            ctx.present = ctx.present + [p]
        ctx.ran_with = ("etl", ctx.watermark, list(ctx.present))
        return True

    def _cli_call(self, ctx):
        argv = ["etl", "--source", ctx.wsrc, "--sink", ctx.sink,
                "--watermark", str(ctx.watermark), "--cpus", ctx.cpus]
        return lambda: cli(argv)

    def load_call(self, ctx, i):
        self._advance(ctx, None)
        return self._cli_call(ctx)

    def next_call(self, ctx, i):
        return self._cli_call(ctx) if self._advance(ctx, i) else None

    def closing_call(self, ctx):
        ctx.ran_with = ("bulk", 0, list(ctx.present))
        argv = ["bulk", "--source", ctx.wsrc, "--out", ctx.out, "--cpus", ctx.cpus]
        return lambda: cli(argv)

    def observe(self, ctx, raw):
        kind, wm, files = ctx.ran_with
        if kind == "bulk":
            return {"kind": kind, "cli": raw, "files": files, "digest": _text_digest(ctx.out)}
        ctx.watermark = raw["next_watermark_s"]
        return {"kind": kind, "cli": raw, "watermark": wm, "files": files,
                "digest": digest(_log_rows(raw["sink"]))}

    def traced_call(self, ctx, i, tr):
        if not self._advance(ctx, i):
            return None
        return lambda: self._traced_etl(ctx, tr, ctx.watermark)

    def traced_closing(self, ctx, tr):
        self.closing_call(ctx)
        return lambda: self._traced_bulk(ctx, tr)

    def _traced_etl(self, ctx, tr, wm):
        from dgraph_etl_spark.pipeline import watermark as W
        from dgraph_etl_spark.sinks.live import file_sink_factory, write_edges_live

        rel, edges = _scan_and_edges(ctx.spark, ctx.wsrc, tr, wm)
        try:
            with tr.span("live.write_edges_live") as c:
                run_dir = os.path.join(ctx.sink, f"run_w{wm}")
                shutil.rmtree(run_dir, ignore_errors=True)
                os.makedirs(run_dir)
                write_edges_live(edges, file_sink_factory(run_dir))
                c["files"] = len(_part_files(run_dir, ".ndjson"))
                c["rows"] = sum(1 for _ in _log_rows(run_dir))
            with tr.span("watermark.next_watermark"):
                nw = W.next_watermark(rel, "last_update").first()
        finally:
            edges.unpersist()
            rel.unpersist()
        nxt = nw["next_watermark_s"]
        return {"sink": run_dir, "rows_read": nw["rows_read"],
                "next_watermark_s": int(nxt) if nxt is not None else wm}

    def _traced_bulk(self, ctx, tr):
        from pyspark.storagelevel import StorageLevel

        from dgraph_etl_spark.catalog import register_views
        from dgraph_etl_spark.pipeline import persons as P
        from dgraph_etl_spark.pipeline import rdf as R

        spark = ctx.spark
        with tr.span("catalog.register_views"):
            # the views cmd_bulk registers
            register_views(spark, ctx.wsrc, tables=("customer",), views=("team_member", "trove_user"))
        rel, edges = _scan_and_edges(spark, ctx.wsrc, tr, 0)
        try:
            with tr.span("persons.enrich_is_trove") as c:
                flagged = P.enrich_is_trove(
                    P.distinct_person_ids(rel), spark.table("trove_user")
                ).persist(StorageLevel.DISK_ONLY)
                c["rows_out"] = flagged.count()
            with tr.span("rdf.write_rdf") as c:
                R.write_rdf(R.all_triples(spark.table("team_member"), flagged, edges), ctx.out)
                triples = c["triples"] = spark.read.text(ctx.out).count()
                c["files_written"] = len(_part_files(ctx.out, ".txt"))
            flagged.unpersist()
        finally:
            edges.unpersist()
            rel.unpersist()
        return {"out": ctx.out, "triples": triples}


def _link(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


# The DQL request texts: the reference's var-block query and four
# practical extensions (count fan-out, ordered page, @facets, @recurse).
DQL = {
    "dql_reference": """{
  var(func: eq(team_id, %s)){
    src as has_member
  }
  var(func: uid(src)){
    hop1 as has_connection @filter(NOT uid(src))
  }
  hop1_count(func: uid(hop1)){
    hop2 as has_connection @filter(NOT uid(hop1) AND NOT uid(src))
  }
  hop2_count(func: uid(hop2)){
    person_id
  }
}""",
    "dql_fanout": """{
  var(func: eq(team_id, %s)){
    src as has_member
  }
  fanout(func: uid(src)){
    person_id
    count(has_connection)
  }
}""",
    "dql_page": """{
  var(func: eq(team_id, %s)){
    src as has_member
  }
  page(func: uid(src), orderasc: person_id, offset: 3, first: 12){
    person_id
  }
}""",
    "dql_facets": """{
  var(func: eq(team_id, %s)){
    src as has_member
  }
  var(func: uid(src)){
    strong as has_connection @facets(ge(score, 1))
  }
  reached(func: uid(strong)){
    count(uid)
  }
}""",
    "dql_recurse": """{
  var(func: eq(team_id, %s)){
    src as has_member
  }
  reach(func: uid(src)) @recurse(depth: 4, loop: false){
    has_connection
  }
}""",
}
# One round of graph_query requests: every DQL kind once and two
# --team-id traversals. Whole rounds keep each run's mix identical; a
# round is ~10 s on a 4-core host, which is what the run budget allows.
ROUND = ["team", "dql_reference", "dql_fanout", "team", "dql_page", "dql_facets", "dql_recurse"]


class GraphQuery:
    name = "graph_query"
    round_len = len(ROUND)
    # no untimed round: a round takes the whole window, and it holds
    # seven requests in a fixed order, so every run's median covers the
    # same requests
    warmup = 0

    def register(self, spark, src):
        # the views cmd_query --team-id registers
        from dgraph_etl_spark.catalog import register_views

        register_views(spark, src, tables=("customer", "events"),
                       views=("user_relationship", "team_member", "edges"))

    def prepare(self, ctx):
        """Rounds of ROUND request kinds in a fixed order; the seed
        draws the team of every request."""
        rng = random.Random(ctx.seed)
        ctx.load_request = ("dql_reference", str(rng.randrange(N_TEAMS)))
        ctx.requests = [(ROUND[i % len(ROUND)], str(rng.randrange(N_TEAMS))) for i in range(1000)]

    def _argv(self, ctx, kind, team):
        base = ["query", "--source", ctx.src, "--cpus", ctx.cpus]
        if kind == "team":
            return base + ["--team-id", team]
        return base + ["--dql", DQL[kind] % team]

    def load_call(self, ctx, i):
        ctx.req = ctx.load_request
        argv = self._argv(ctx, *ctx.req)
        return lambda: cli(argv)

    def next_call(self, ctx, i):
        ctx.req = ctx.requests[i]
        argv = self._argv(ctx, *ctx.req)
        return lambda: cli(argv)

    def observe(self, ctx, raw):
        kind, team = ctx.req
        return {"kind": kind, "team": team, "cli": raw}

    def traced_call(self, ctx, i, tr):
        ctx.req = ctx.load_request if i is None else ctx.requests[i]
        kind, team = ctx.req
        if kind == "team":
            return lambda: self._traced_team(ctx, tr, team)
        return lambda: self._traced_dql(ctx, tr, DQL[kind] % team)

    def _traced_team(self, ctx, tr, team):
        from dgraph_etl_spark.graph.traverse import k_hop, team_seed

        spark = ctx.spark
        with tr.span("catalog.register_views"):
            self.register(spark, ctx.src)
        with tr.span("traverse.k_hop") as c:
            seeds = team_seed(spark.table("team_member"), team)
            hops = k_hop(spark.table("edges"), seeds, k=2)
            counts = {f"hop{i}_count": h.count() for i, h in enumerate(hops, 1)}
            last = sorted(r["id"] for r in hops[-1].select("id").collect())
            c["hop1_rows"], c["hop2_rows"] = counts["hop1_count"], counts["hop2_count"]
        return {**counts, "hop2_person_ids": last}

    def _traced_dql(self, ctx, tr, text):
        from dgraph_etl_spark.graph.dql import parse_dql, run_dql
        from dgraph_etl_spark.suites.graph_traversal import dql_fixture_graph
        from spans import plan_phases_s

        with tr.span("dql.parse_dql"):
            parse_dql(text)
        # the session's bucketed edge table is built on first use
        with tr.span("sources.bucketed_table"):
            graph = dql_fixture_graph(ctx.spark, ctx.src)
        with tr.span("dql.run_dql") as c:
            results = run_dql(text, graph)
            c["plan_phases_s"] = sum(
                plan_phases_s(df)
                for r in results
                for df in (r.uids, r.attrs)
                if df is not None
            )
        out = {}
        with tr.span("dql.execute"):
            for res in results:
                block = {"count": res.uids.count()}
                if res.attrs is not None:
                    block["rows"] = sorted(tuple(r) for r in res.attrs.drop("id").collect())
                out[res.name] = block
        # the CLI's JSON round trip (tuples -> lists)
        return json.loads(json.dumps(out, default=str))


class NeardupCuration:
    name = "neardup_curation"
    # a pass takes most of the run's window: two per round, so that no
    # run reports a single sample
    round_len = 2
    # one untimed pass after the cold one: the second pass is still ~10% slower
    # than the third while the JVM warms
    warmup = 1

    def register(self, spark, src):
        from dgraph_etl_spark.catalog import register_views

        register_views(spark, src, tables=("documents", "embeddings"), views=())

    def prepare(self, ctx):
        from dgraph_etl_spark.catalog import embedding_dim

        ctx.dim = embedding_dim(ctx.src)
        with open(os.path.join(ctx.src, "planted.json")) as f:
            ctx.planted_docs = {tuple(p) for p in json.load(f)["doc_near_pairs"]}

    def next_call(self, ctx, i):
        return lambda: self._pass(ctx, None)

    load_call = next_call

    def traced_call(self, ctx, i, tr):
        return lambda: self._pass(ctx, tr)

    def _pass(self, ctx, tr):
        """One curation pass: exact dedup, MinHash-LSH candidates ->
        connected components, SRP near-duplicate vector pairs."""
        from dgraph_etl_spark.catalog import load_table
        from dgraph_etl_spark.functions.dedup import (
            exact_dedup,
            lsh_candidate_pairs,
            neardup_components,
        )
        from dgraph_etl_spark.functions.similarity import srp_neardup_pairs

        span = tr.span if tr is not None else (lambda name: contextlib.nullcontext({}))
        spark = ctx.spark
        docs = load_table(spark, ctx.src, "documents")
        emb = load_table(spark, ctx.src, "embeddings")
        with span("dedup.exact_dedup"):
            exact = exact_dedup(docs).select("doc_id", "n_copies").collect()
        with span("dedup.lsh_candidate_pairs") as c:
            pairs_df = lsh_candidate_pairs(docs).cache()
            pairs = pairs_df.collect()
            c["candidate_pairs"] = len(pairs)
            c["planted_found"] = len(ctx.planted_docs & {(r["doc_a"], r["doc_b"]) for r in pairs})
        try:
            with span("dedup.neardup_components"):
                comp = neardup_components(docs, pairs_df).select("doc_id", "component").collect()
        finally:
            pairs_df.unpersist()
        with span("similarity.srp_neardup_pairs") as c:
            srp = srp_neardup_pairs(emb, dim=ctx.dim).collect()
            c["kept_pairs"] = len(srp)
        return {"exact": exact, "pairs": pairs, "comp": comp, "srp": srp}

    def observe(self, ctx, raw):
        return {
            "exact_groups": digest(f"{r['doc_id']}\t{r['n_copies']}" for r in raw["exact"]),
            "lsh_pairs": sorted([int(r["doc_a"]), int(r["doc_b"])] for r in raw["pairs"]),
            "component_doc_ids": [int(r["doc_id"]) for r in raw["comp"]],
            "components": digest(f"{r['doc_id']}\t{r['component']}" for r in raw["comp"]),
            "srp_pairs": [[int(r["vec_a"]), int(r["vec_b"]), float(r["sim"])] for r in raw["srp"]],
        }


WORKLOADS = {w.name: w for w in (EtlLive(), GraphQuery(), NeardupCuration())}
