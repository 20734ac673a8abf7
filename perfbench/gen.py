"""Seeded input generator for the benchmark.

Builds the ten testdata tables at `factor` replicas from the sf0.1 source
fixture, with the semantics of `tools/scale_synth.py`:

- documents and embeddings replicate with disjoint id ranges; replica k's
  text (words) and vector are the original rotated, so replicas stay
  near-duplicates of each other without being copies;
- document id shifts are multiples of the base count, so every modulus
  the queries key on (10/20/100) keeps its residues;
- embedding id shifts clear the engine's capped query set
  (`SimilarityQueries.maxQueryId`), so the query side of kNN stays the
  base one;
- lineitem/orders shift orderkeys by a multiple of 16384 (same shift on
  both, so the join stays per replica) and events shift event/user ids
  past the base ranges; dimensions copy through.

The seed changes content and row order, never row counts:

- every rotation is offset by the seed (replica 0 included);
- the id-shifted fact tables (lineitem, orders, events) start at replica
  offset `seed % 4` instead of 0;
- every table is written in a seed-keyed row order.

Output for one (seed, factor) is written once into a temporary directory
and renamed into place; a finished directory is reused as is.
"""
import hashlib
import os
import re
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# order key of each table (unique per row) for the seeded row order
ORDER_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "lineitem": "l_orderkey * 8 + l_linenumber",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}

FACT_OFFSETS = 4


def max_query_id(repo_root):
    """The engine's kNN query cap, read from its source like scale_synth."""
    path = os.path.join(repo_root, "src/main/scala/graft/queries/"
                        "SimilarityQueries.scala")
    with open(path) as f:
        m = re.search(r"maxQueryId\s*=\s*(\d+)", f.read())
    if not m:
        raise RuntimeError("maxQueryId not found in SimilarityQueries.scala")
    return int(m.group(1))


def _order(table, seed):
    key = ORDER_KEYS[table]
    return f"ORDER BY md5(({key})::VARCHAR || ':{seed}')"


def _write(con, select, table, dst, seed):
    con.execute(f"COPY (SELECT * FROM ({select}) {_order(table, seed)}) "
                f"TO '{dst}/{table}.parquet' (FORMAT PARQUET)")


def _count(con, relation):
    return con.execute(f"SELECT count(*) FROM {relation}").fetchone()[0]


def generate(src, dst, factor, seed, query_cap):
    """Write the (seed, factor) inputs into `dst` (which must not exist)."""
    os.makedirs(dst)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM '{src}/{t}.parquet'")
    nd = _count(con, "src_documents")
    ne = _count(con, "src_embeddings")
    ks = f"unnest(generate_series(0, {factor - 1})) AS g(k)"
    off = seed % FACT_OFFSETS

    _write(con, f"""
      SELECT doc_id + k * {nd} AS doc_id,
        array_to_string(w[((k + {seed}) % greatest(len(w), 1)) + 1 :]
          || w[1 : ((k + {seed}) % greatest(len(w), 1))], ' ') AS text,
        lang, source, n_chars
      FROM (SELECT *, string_split(text, ' ') AS w FROM src_documents), {ks}
    """, "documents", dst, seed)

    eshift = max(ne, query_cap)
    _write(con, f"""
      SELECT vec_id + k * {eshift} AS vec_id,
        embedding[((k + {seed}) % len(embedding)) + 1 :]
          || embedding[1 : ((k + {seed}) % len(embedding))] AS embedding,
        label
      FROM src_embeddings, {ks}
    """, "embeddings", dst, seed)

    mx = con.execute("SELECT greatest((SELECT max(l_orderkey) FROM src_lineitem),"
                     " (SELECT max(o_orderkey) FROM src_orders))").fetchone()[0]
    oshift = ((mx // 16384) + 1) * 16384
    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        _write(con, f"""
          SELECT * REPLACE ({key} + (k + {off}) * {oshift} AS {key})
          FROM src_{t}, {ks}
        """, t, dst, seed)

    pshift = con.execute("SELECT max(p_partkey) + 1 FROM src_part").fetchone()[0]
    _write(con, f"""
      SELECT * REPLACE (p_partkey + k * {pshift} AS p_partkey)
      FROM src_part, {ks}
    """, "part", dst, seed)

    nev = _count(con, "src_events")
    ushift = con.execute("SELECT max(user_id) + 1 FROM src_events").fetchone()[0]
    _write(con, f"""
      SELECT * REPLACE (event_id + (k + {off}) * {nev} AS event_id,
                        user_id + (k + {off}) * {ushift} AS user_id)
      FROM src_events, {ks}
    """, "events", dst, seed)

    for t in ("customer", "supplier", "nation", "region"):
        _write(con, f"SELECT * FROM src_{t}", t, dst, seed)

    _check(con, dst, factor, query_cap)
    con.close()


def _check(con, dst, factor, query_cap):
    """The scale_synth invariants: exact row counts, unchanged kNN query
    set, hot-tier and join cardinalities scaled exactly by the factor."""
    for t in TABLES:
        want = _count(con, f"src_{t}") * (factor if t in (
            "documents", "embeddings", "lineitem", "orders", "part", "events")
            else 1)
        got = _count(con, f"'{dst}/{t}.parquet'")
        assert got == want, (t, got, want)
    q = (f"WHERE vec_id % 100 = 0 AND vec_id < {query_cap}")
    assert _count(con, f"src_embeddings {q}") == \
        _count(con, f"'{dst}/embeddings.parquet' {q}"), "kNN query set changed"
    hot = ("SELECT l_orderkey % 16 AS r, count(*) FROM {} "
           "WHERE l_orderkey % 16 < 8 GROUP BY r ORDER BY r")
    base = con.execute(hot.format("src_lineitem")).fetchall()
    assert con.execute(hot.format(f"'{dst}/lineitem.parquet'")).fetchall() == \
        [(r, c * factor) for r, c in base], "hot tier must scale exactly"
    join = "SELECT count(*) FROM {} JOIN {} ON l_orderkey = o_orderkey"
    assert con.execute(join.format(f"'{dst}/lineitem.parquet'",
                                   f"'{dst}/orders.parquet'")).fetchone()[0] == \
        con.execute(join.format("src_lineitem", "src_orders")).fetchone()[0] \
        * factor, "lineitem-orders join must scale exactly"


def ensure(src, cache, factor, seed, query_cap):
    """The cached (seed, factor) input directory, generated if missing; the
    name carries a hash of this generator, so a changed one never reuses
    stale inputs."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    dst = os.path.join(cache, f"f{factor}_s{seed}_{version}")
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(src, tmp, factor, seed, query_cap)
    try:
        os.rename(tmp, dst)
    except OSError:  # another run finished the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    return dst
