"""Expected outputs, computed without graft.

ETL workloads: the triples each mapper emits are written out in DuckDB SQL
from the generated TSV files, aggregated to property-graph elements and
serialised to PG-JSONL lines, following the reference's semantics (values
JSON-serialised, multi-valued properties sorted and distinct, keys sorted).
The benchmark compares element counts per type and label, a digest of the
JSONL lines taken as a multiset, and the loader's counts against them.

Query suite: each query's result, dumped by the benchmark's untimed first
pass, is compared with its DuckDB oracle SQL, normalised as
tools/check_oracle.py does (columns sorted by name, values stringified,
rows sorted).
"""
import hashlib
import json
import math
import os

import duckdb

BATCH_SIZE = 2500


def _q(expr):
    """JSON string literal of a plain ASCII SQL value."""
    return f"('\"' || {expr} || '\"')"


def _triples_sql(workload, inputs):
    if workload == "kg_ensembl":
        src = "'perfbench/kg_ensembl'"
        e, u = '"ENSEMBL ID"', '"UniProt ID"'
        gene, prot = f"('gene:' || {e})", f"('protein:' || {u})"
        acc_e, acc_u = f"('accession:ENSEMBL-Plants:' || {e})", f"('accession:UniProt:' || {u})"
        has_e = f"('hasAccession:' || {gene} || '-' || {acc_e})"
        has_u = f"('hasAccession:' || {prot} || '-' || {acc_u})"
        enc = f"('encodesProtein:' || {gene} || '-' || {prot})"
        kvs = [
            (gene, "'@type'", "'Gene'"), (gene, "'dataSources'", _q("'ENSEMBL-Plants'")),
            (gene, "'ketl:source'", _q(src)),
            (prot, "'@type'", "'Protein'"), (prot, "'dataSources'", _q("'ENSEMBL-Plants'")),
            (prot, "'dataSources'", _q("'TAIR'")), (prot, "'ketl:source'", _q(src)),
            (acc_e, "'value'", _q(e)), (acc_e, "'@type'", "'Accession'"),
            (acc_e, "'source'", _q("'ENSEMBL-Plants'")), (acc_e, "'ketl:source'", _q(src)),
            (has_e, "'@type'", "'hasAccession'"), (has_e, "'@from'", gene),
            (has_e, "'@to'", acc_e), (has_e, "'ketl:source'", _q(src)),
            (acc_u, "'value'", _q(u)), (acc_u, "'@type'", "'Accession'"),
            (acc_u, "'source'", _q("'UniProt'")), (acc_u, "'ketl:source'", _q(src)),
            (has_u, "'@type'", "'hasAccession'"), (has_u, "'@from'", prot),
            (has_u, "'@to'", acc_u), (has_u, "'ketl:source'", _q(src)),
            (enc, "'@type'", "'encodesProtein'"), (enc, "'@from'", gene), (enc, "'@to'", prot),
            (enc, "'dataSources'", _q("'ENSEMBL Plants'")), (enc, "'ketl:source'", _q(src)),
        ]
        tables = {"e2u": inputs[0]}
        per_table = {"e2u": kvs}
    elif workload == "kg_annotated":
        genes, annotations, interactions = inputs
        gene = "('gene:' || gene_id)"
        edge = "('interactsWith:gene:' || gene_a || '-gene:' || gene_b)"
        tables = {"genes": genes, "annotations": annotations, "interactions": interactions}
        per_table = {
            # chromosome and score are integer columns: serialised bare
            "genes": [(gene, "'@type'", "'Gene'"), (gene, "'symbol'", _q("symbol")),
                      (gene, "'chromosome'", "chromosome"),
                      (gene, "'description'", _q("description")),
                      (gene, "'dataSources'", _q("'TAIR'"))],
            "annotations": [(gene, "'@type'", "'Gene'"), (gene, "'goTerm'", _q("go_term")),
                            (gene, "'evidence'", _q("evidence")),
                            (gene, "'publication'", _q("publication")),
                            (gene, "'dataSources'", _q("'GOA'"))],
            "interactions": [(edge, "'@type'", "'interactsWith'"),
                             (edge, "'@from'", "('gene:' || gene_a)"),
                             (edge, "'@to'", "('gene:' || gene_b)"),
                             (edge, "'score'", "score"), (edge, "'source'", _q("source"))],
        }
    else:
        raise ValueError(workload)
    parts = []
    for t, kv in per_table.items():
        src = (f"read_csv('{tables[t]}', delim='\t', header=true, all_varchar=true, "
               f"quote='', escape='')")
        for i, k, v in kv:
            parts.append(f"SELECT {i} AS id, {k} AS key, {v} AS value FROM {src}")
    return "\nUNION ALL\n".join(parts)


ELEMENTS_SQL = """
WITH d AS (SELECT DISTINCT id, key, value FROM triples
           WHERE id IS NOT NULL AND id <> '' AND value IS NOT NULL),
props AS (
  SELECT id, key, '"' || key || '":[' || string_agg(value, ',' ORDER BY value) || ']' AS kv
  FROM d WHERE key NOT IN ('@type', '@from', '@to') GROUP BY id, key),
pj AS (SELECT id, '{' || string_agg(kv, ',' ORDER BY key) || '}' AS pjson
       FROM props GROUP BY id),
lab AS (SELECT id, string_agg(value, ',' ORDER BY value) AS labels,
               '[' || string_agg('"' || value || '"', ',' ORDER BY value) || ']' AS ljson
        FROM d WHERE key = '@type' GROUP BY id),
ends AS (SELECT id, min(value) FILTER (WHERE key = '@from') AS f,
                min(value) FILTER (WHERE key = '@to') AS t
         FROM d GROUP BY id)
SELECT CASE WHEN ends.f IS NULL THEN 'node' ELSE 'edge' END AS type,
       coalesce(lab.labels, '') AS labels,
       '{"type":"' || CASE WHEN ends.f IS NULL THEN 'node' ELSE 'edge' END
         || '","id":"' || ends.id || '","labels":' || coalesce(lab.ljson, '[]')
         || ',"properties":' || coalesce(pj.pjson, '{}')
         || CASE WHEN ends.f IS NULL THEN '}'
                 ELSE ',"from":"' || ends.f || '","to":"' || ends.t || '"}' END AS line
FROM ends LEFT JOIN lab USING (id) LEFT JOIN pj USING (id)
"""


def jsonl_digest(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update((line + "\n").encode("utf-8"))
    return h.hexdigest()


def etl_expected(workload, inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE triples AS {_triples_sql(workload, inputs)}")
    rows = con.execute(ELEMENTS_SQL).fetchall()
    counts = {}
    for typ, labels, _ in rows:
        counts[f"{typ}|{labels}"] = counts.get(f"{typ}|{labels}", 0) + 1
    nodes = sum(1 for r in rows if r[0] == "node")
    triples = con.execute("SELECT count(*) FROM triples").fetchone()[0]
    return {
        "pg_counts": counts,
        "elements": len(rows),
        "nodes": nodes,
        "edges": len(rows) - nodes,
        "triples": triples,
        "jsonl_lines": len(rows),
        "jsonl_sha256": jsonl_digest(r[2] for r in rows),
    }


def etl_mismatches(expected, run):
    """Every way one ETL run's outputs differ from the expected ones."""
    bad = []
    if "error" in run:
        return [f"run failed: {run['error']}"]
    if run["pg_counts"] != expected["pg_counts"]:
        bad.append(f"pg counts {run['pg_counts']} != {expected['pg_counts']}")
    if run["jsonl_lines"] != expected["jsonl_lines"]:
        bad.append(f"jsonl lines {run['jsonl_lines']} != {expected['jsonl_lines']}")
    if run["jsonl_sha256"] != expected["jsonl_sha256"]:
        bad.append("jsonl multiset digest differs")
    load = run["load"]
    if load["node_elems"] != expected["nodes"] or load["edge_elems"] != expected["edges"]:
        bad.append(f"loaded {load['node_elems']} nodes / {load['edge_elems']} edges, "
                   f"expected {expected['nodes']} / {expected['edges']}")
    for kind in ("node", "edge"):
        least = math.ceil(expected[kind + "s"] / BATCH_SIZE)
        if load[kind + "_batches"] < least:
            bad.append(f"{load[kind + '_batches']} {kind} batches, fewer than {least}")
    if load["max_batch"] > BATCH_SIZE:
        bad.append(f"a batch of {load['max_batch']} elements exceeds {BATCH_SIZE}")
    if load["other_statements"] != 1:
        bad.append(f"{load['other_statements']} index statements, expected 1")
    if run["load_flags"] != 2:
        bad.append(f"{run['load_flags']} load done-flags, expected 2")
    return bad


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _fmt(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_fmt(r[i]) for i in order) for r in rows)


def suite_mismatches(data_dir, verify_dir, queries):
    """query -> reason, for every dumped query whose result differs from its
    oracle (or, without an oracle, is empty). Also returns result rows per
    query."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    bad, rows_out = {}, {}
    for q in queries:
        d = os.path.join(verify_dir, q)
        if not os.path.isdir(d):
            continue  # failed to run; the benchmark already counts it
        rel = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        cols = [c[0] for c in rel.description]
        rows = rel.fetchall()
        rows_out[q] = len(rows)
        if q not in oracle:
            if not rows:
                bad[q] = "no oracle and no rows"
            continue
        try:
            dr = con.execute(oracle[q])
            dcols, drows = [c[0] for c in dr.description], dr.fetchall()
        except Exception as e:  # an oracle that cannot run cannot vouch
            bad[q] = f"oracle SQL error: {e}"
            continue
        sc, sr = _norm(rows, cols)
        dc, drs = _norm(drows, dcols)
        if sc != dc:
            bad[q] = f"schema {sc} != {dc}"
        elif sr != drs:
            bad[q] = f"rows differ: {len(sr)} vs {len(drs)}"
    return bad, rows_out
