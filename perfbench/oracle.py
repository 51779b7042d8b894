"""Output checks for the benchmark, computed by DuckDB from the same
generated parquet the program read.

Runs as its own process (``python3 oracle.py REQUEST.json RESULT.json``)
after the timed loop, so neither its time nor its memory is counted in
the program's metrics. The request names the workload, the input dir
and one observation per operation; the result holds one verdict per
observation: ``{"ok": bool, "why": str}``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import duckdb

# Planted near-duplicate pairs that the candidate generators must
# return, as a share of all planted pairs (documents: MinHash LSH,
# vectors: SRP LSH). At the generator's edit and noise levels the
# expected recall is above 0.99 for both.
MIN_PLANTED_RECALL = 0.9
SRP_THRESHOLD = 0.9


def digest(lines) -> list:
    """Order-insensitive multiset digest: [count, sum of 64-bit line
    hashes mod 2**64]."""
    n = 0
    acc = 0
    for s in lines:
        n += 1
        acc += int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")
    return [n, acc % (1 << 64)]


def edge_line(src, dst, score) -> str:
    return f"{src}\t{dst}\t{float(score)!r}"


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _files(paths) -> str:
    return "[" + ", ".join(_q(p) for p in paths) + "]"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _event_views(con, event_files, customer: str) -> None:
    """user_relationship / edges / team_member as FIXTURES.md defines
    them (ROUND before the INT cast, as both engines must agree)."""
    con.execute(
        f"""
        CREATE OR REPLACE VIEW rel AS
        SELECT epoch_us(ts) AS ts_us,
               CAST(user_id AS VARCHAR) AS f,
               CAST(event_id % 50 AS VARCHAR) AS t,
               CAST(ROUND(value * 100, 0) AS INTEGER) AS si,
               CAST(ROUND(value * 37, 0) AS INTEGER) AS so
        FROM read_parquet({_files(event_files)})
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE VIEW tm AS
        SELECT CAST(c_nationkey AS VARCHAR) AS team_id,
               CAST(c_custkey AS VARCHAR) AS person_id,
               c_custkey
        FROM read_parquet({_q(customer)})
        """
    )


def _edges_sql(min_ts_us: int = 0) -> str:
    return f"""
        SELECT src, dst, MAX(score) AS score FROM (
          SELECT f AS src, t AS dst, si AS score FROM rel WHERE ts_us >= {min_ts_us}
          UNION ALL
          SELECT t, f, so FROM rel WHERE ts_us >= {min_ts_us}
        ) GROUP BY src, dst
    """


# ------------------------------------------------------- bulk and etl


def bulk_expected(con) -> list:
    """Digest of the RDF triple set over the ``rel``/``tm`` views."""
    rows = con.execute(
        f"""
        WITH persons AS (SELECT DISTINCT p FROM (SELECT f AS p FROM rel UNION ALL SELECT t FROM rel)),
        trove AS (SELECT DISTINCT person_id AS pid FROM tm WHERE c_custkey % 2 = 0),
        edges AS ({_edges_sql()})
        SELECT '_:' || team_id || ' <team_id> "' || team_id || '" .' FROM (SELECT DISTINCT team_id FROM tm)
        UNION ALL
        SELECT '_:' || team_id || ' <has_member> _:' || person_id || ' .' FROM tm
        UNION ALL
        SELECT '_:' || p || ' <person_id> "' || p || '" .' FROM persons
        UNION ALL
        SELECT '_:' || p || ' <is_trove_user> "'
               || CASE WHEN trove.pid IS NULL THEN 'false' ELSE 'true' END
               || '"^^<xs:boolean> .'
        FROM persons LEFT JOIN trove ON persons.p = trove.pid
        UNION ALL
        SELECT '_:' || src || ' <has_connection> _:' || dst
               || ' (score=' || CAST(score AS BIGINT) || ') .'
        FROM edges
        """
    ).fetchall()
    return digest(r[0] for r in rows)


def _check_bulk_op(con, o) -> dict:
    want = bulk_expected(con)
    if o["cli"].get("triples") != want[0]:
        return {"ok": False, "why": f"triples {o['cli'].get('triples')} != {want[0]}"}
    if o["digest"] != want:
        return {"ok": False, "why": f"triple-set digest {o['digest']} != {want}"}
    return {"ok": True, "why": ""}


def _check_etl_op(con, o) -> dict:
    wm_us = o["watermark"] * 1_000_000
    n, max_us = con.execute(
        f"SELECT count(*), max(ts_us) FROM rel WHERE ts_us >= {wm_us}"
    ).fetchone()
    want_next = max_us // 1_000_000 if max_us is not None else o["watermark"]
    rows = con.execute(_edges_sql(wm_us)).fetchall()
    want = digest(edge_line(s, d, float(sc)) for s, d, sc in rows)
    cli = o["cli"]
    if cli.get("rows_read") != n:
        return {"ok": False, "why": f"rows_read {cli.get('rows_read')} != {n}"}
    if cli.get("next_watermark_s") != want_next:
        return {"ok": False, "why": f"next_watermark_s {cli.get('next_watermark_s')} != {want_next}"}
    if o["digest"] != want:
        return {"ok": False, "why": f"mutation-log digest {o['digest']} != {want}"}
    return {"ok": True, "why": ""}


def check_etl(inputs: str, obs: list) -> list:
    """Each observation carries the part files that were present when
    it ran; the expectation is recomputed on exactly that file set."""
    con = _con()
    out = []
    for o in obs:
        _event_views(con, o["files"], os.path.join(inputs, "customer.parquet"))
        out.append((_check_bulk_op if o["kind"] == "bulk" else _check_etl_op)(con, o))
    return out


# --------------------------------------------------------------- query


def _team_sets(con, team: str) -> dict:
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE seeds AS
        SELECT DISTINCT person_id AS id FROM tm WHERE team_id = '{int(team)}'
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE hop1 AS
        SELECT DISTINCT e.dst AS id FROM edges e JOIN seeds s ON e.src = s.id
        WHERE e.dst IS NOT NULL AND e.dst NOT IN (SELECT id FROM seeds)
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE hop2 AS
        SELECT DISTINCT e.dst AS id FROM edges e JOIN hop1 h ON e.src = h.id
        WHERE e.dst IS NOT NULL
          AND e.dst NOT IN (SELECT id FROM hop1)
          AND e.dst NOT IN (SELECT id FROM seeds)
        """
    )
    n1 = con.execute("SELECT count(*) FROM hop1").fetchone()[0]
    hop2 = sorted(r[0] for r in con.execute("SELECT id FROM hop2").fetchall())
    return {"n1": n1, "hop2": hop2}


def query_expected(con, kind: str, team: str):
    """The CLI's JSON for one request, as DuckDB computes it."""
    if kind == "team":
        s = _team_sets(con, team)
        return {"hop1_count": s["n1"], "hop2_count": len(s["hop2"]), "hop2_person_ids": s["hop2"]}
    if kind == "dql_reference":
        s = _team_sets(con, team)
        return {
            "hop1_count": {"count": s["n1"]},
            "hop2_count": {"count": len(s["hop2"]), "rows": [[p] for p in s["hop2"]]},
        }
    seeds = f"SELECT DISTINCT person_id AS id FROM tm WHERE team_id = '{int(team)}'"
    if kind == "dql_fanout":
        rows = con.execute(
            f"""
            WITH seeds AS ({seeds})
            SELECT s.id, CAST(COALESCE(c.cnt, 0) AS BIGINT)
            FROM seeds s LEFT JOIN (
              SELECT src, COUNT(DISTINCT dst) AS cnt FROM edges
              WHERE dst IS NOT NULL GROUP BY src
            ) c ON c.src = s.id
            """
        ).fetchall()
        return {"fanout": {"count": len(rows), "rows": sorted([list(r) for r in rows])}}
    if kind == "dql_page":
        rows = con.execute(
            f"""
            WITH seeds AS ({seeds}),
            ranked AS (
              SELECT id, ROW_NUMBER() OVER (ORDER BY CAST(id AS DOUBLE), id) AS rn FROM seeds
            )
            SELECT CAST(rn AS BIGINT), id FROM ranked WHERE rn > 3 AND rn <= 15
            """
        ).fetchall()
        return {"page": {"count": len(rows), "rows": sorted([list(r) for r in rows])}}
    if kind == "dql_facets":
        n = con.execute(
            f"""
            WITH seeds AS ({seeds})
            SELECT COUNT(DISTINCT e.dst) FROM edges e JOIN seeds s ON e.src = s.id
            WHERE e.dst IS NOT NULL AND e.score >= 1
            """
        ).fetchone()[0]
        return {"reached": {"count": n, "rows": [[n]]}}
    if kind == "dql_recurse":
        n = con.execute(
            f"""
            WITH RECURSIVE seeds AS ({seeds}),
            walk AS (
              SELECT id, 0 AS lvl FROM seeds
              UNION
              SELECT e.dst, w.lvl + 1 FROM walk w JOIN edges e ON e.src = w.id
              WHERE w.lvl < 3 AND e.dst IS NOT NULL
            )
            SELECT COUNT(DISTINCT id) FROM walk
            """
        ).fetchone()[0]
        return {"reach": {"count": n}}
    raise ValueError(f"unknown request kind {kind!r}")


def check_query(inputs: str, obs: list) -> list:
    con = _con()
    _event_views(
        con, sorted(glob.glob(os.path.join(inputs, "events.parquet", "*.parquet"))),
        os.path.join(inputs, "customer.parquet"),
    )
    con.execute(f"CREATE TEMP TABLE edges AS {_edges_sql()}")
    memo: dict = {}
    out = []
    for o in obs:
        key = (o["kind"], o["team"])
        if key not in memo:
            memo[key] = query_expected(con, *key)
        if o["cli"] != memo[key]:
            out.append({"ok": False, "why": f"{key}: CLI output differs from DuckDB"})
        else:
            out.append({"ok": True, "why": ""})
    return out


# ------------------------------------------------------------- neardup


def _components(pairs) -> dict:
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_neardup(inputs: str, obs: list) -> list:
    con = _con()
    docs = _q(os.path.join(inputs, "documents.parquet"))
    emb = _q(os.path.join(inputs, "embeddings.parquet"))
    groups = digest(
        f"{d}\t{n}"
        for d, n in con.execute(
            f"SELECT min(doc_id), count(*) FROM read_parquet({docs}) GROUP BY text"
        ).fetchall()
    )
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet({docs})").fetchone()[0]
    with open(os.path.join(inputs, "planted.json")) as f:
        planted = json.load(f)
    doc_planted = {tuple(p) for p in planted["doc_near_pairs"]}
    vec_planted = {tuple(p) for p in planted["vec_near_pairs"]}
    con.execute(f"CREATE TEMP TABLE emb AS SELECT vec_id, embedding FROM read_parquet({emb})")
    out = []
    for o in obs:
        why = []
        if o["exact_groups"] != groups:
            why.append(f"exact-dedup groups {o['exact_groups']} != {groups}")
        lsh = {tuple(p) for p in o["lsh_pairs"]}
        recall = len(doc_planted & lsh) / max(1, len(doc_planted))
        if recall < MIN_PLANTED_RECALL:
            why.append(f"LSH planted recall {recall:.3f} < {MIN_PLANTED_RECALL}")
        comp = _components(lsh)
        want_comp = digest(f"{d}\t{comp.get(d, d)}" for d in o["component_doc_ids"])
        if o["components"] != want_comp or len(o["component_doc_ids"]) != n_docs:
            why.append("neardup_components differs from union-find over the LSH pairs")
        srp = o["srp_pairs"]
        con.execute("CREATE OR REPLACE TEMP TABLE srp (a BIGINT, b BIGINT, sim DOUBLE)")
        if srp:
            con.executemany("INSERT INTO srp VALUES (?, ?, ?)", srp)
        bad = con.execute(
            f"""
            SELECT count(*) FROM srp
            JOIN emb x ON x.vec_id = srp.a JOIN emb y ON y.vec_id = srp.b
            WHERE round(list_cosine_similarity(x.embedding, y.embedding), 4) < {SRP_THRESHOLD}
               OR abs(list_cosine_similarity(x.embedding, y.embedding) - srp.sim) > 1e-4
            """
        ).fetchone()[0]
        joined = con.execute(
            "SELECT count(*) FROM srp JOIN emb x ON x.vec_id = srp.a JOIN emb y ON y.vec_id = srp.b"
        ).fetchone()[0]
        if bad or joined != len(srp):
            why.append(f"{bad} SRP pairs fail the exact cosine threshold {SRP_THRESHOLD}")
        vrecall = len(vec_planted & {(a, b) for a, b, _ in srp}) / max(1, len(vec_planted))
        if vrecall < MIN_PLANTED_RECALL:
            why.append(f"SRP planted recall {vrecall:.3f} < {MIN_PLANTED_RECALL}")
        out.append({"ok": not why, "why": "; ".join(why), "lsh_recall": recall, "srp_recall": vrecall})
    return out


CHECKS = {
    "etl_live": check_etl,
    "graph_query": check_query,
    "neardup_curation": check_neardup,
}


def main(argv: list[str]) -> int:
    req_path, res_path = argv
    with open(req_path) as f:
        req = json.load(f)
    verdicts = CHECKS[req["workload"]](req["inputs"], req["obs"])
    with open(res_path, "w") as f:
        json.dump(verdicts, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
