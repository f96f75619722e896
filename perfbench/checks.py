"""Output checks for the benchmark's workloads, run in DuckDB after the
JVM exits, plus the end-to-end metrics computed from the JVM's result
file. Every check returns, per operation, whether its output is correct
and the share of the reference answer it reproduced (its recall)."""
import json
import os
import statistics

import duckdb


TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "duckdb-tmp")


def connect():
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql("SET memory_limit = '1GB'")
    con.sql(f"SET temp_directory = '{TMP}'")
    return con


def pq(path, hive=False):
    """A read_parquet() call over every parquet file under `path`."""
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = "
            f"{'true' if hive else 'false'})")


def compare(con, got_sql, exp_table):
    """Bag-compare the relation `got_sql` with table `exp_table`: column
    names, row counts and EXCEPT ALL both ways. Returns (ok, recall)
    where recall is the share of expected rows present in got."""
    con.sql(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM {got_sql}")
    gcols = sorted(r[0] for r in con.sql("DESCRIBE got").fetchall())
    ecols = sorted(r[0] for r in con.sql(f"DESCRIBE {exp_table}").fetchall())
    ne = con.sql(f"SELECT count(*) FROM {exp_table}").fetchone()[0]
    if gcols != ecols:
        return False, 0.0
    cols = ", ".join(f'"{c}"' for c in gcols)
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {exp_table} "
                      f"EXCEPT ALL SELECT {cols} FROM got)").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                    f"EXCEPT ALL SELECT {cols} FROM {exp_table})").fetchone()[0]
    recall = 1.0 if ne == 0 else (ne - missing) / ne
    return missing == 0 and extra == 0, recall


def weekly(con, inputs, result, ops):
    """runReport writes week_sub (partitioned by gubun) and week_summary;
    both must equal the DuckDB replay of the weekly oracle SQL (q82,
    q78) over the same fleet files."""
    facts = inputs["facts"]
    oracle = json.load(open(os.path.join(facts, "oracle_sql.json")))
    con.sql(f"CREATE OR REPLACE TABLE exp_sub AS ({oracle['week_sub']})")
    con.sql(f"CREATE OR REPLACE TABLE exp_summary AS ({oracle['week_summary']})")
    out = []
    for op in ops:
        d = op["output"]
        ok1, r1 = compare(con, pq(f"{d}/week_sub", hive=True), "exp_sub")
        ok2, r2 = compare(con, pq(f"{d}/week_summary"), "exp_summary")
        out.append((ok1 and ok2, (r1 + r2) / 2))
    return out


def split_ctes(sql):
    """Split `WITH a AS (...), b AS (...) SELECT ...` into
    ([(name, body), ...], final_select), honouring nested parentheses
    and quoted literals."""
    s = sql.strip()
    if not s[:4].upper() == "WITH":
        raise ValueError("oracle SQL does not start with WITH")
    i, ctes = 4, []
    while True:
        m = s[i:].lstrip()
        i = len(s) - len(m)
        name = m.split()[0]
        i = s.index("(", i)
        depth, j, quote = 0, i, None
        while True:
            ch = s[j]
            if quote:
                quote = None if ch == quote else quote
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        ctes.append((name, s[i + 1:j]))
        rest = s[j + 1:].lstrip()
        if not rest.startswith(","):
            return ctes, rest
        i = len(s) - len(rest) + 1


def curation_oracle(con, docs_dir):
    """The q91 oracle replayed once per input: each CTE materialized as
    a table in order, then the funnel (q91's final SELECT) and the
    curated ids (its `cur` CTE). Cached next to the input as parquet."""
    f_path = os.path.join(docs_dir, "oracle_funnel.parquet")
    c_path = os.path.join(docs_dir, "oracle_curated.parquet")
    if not (os.path.exists(f_path) and os.path.exists(c_path)):
        sql = json.load(open(os.path.join(docs_dir, "oracle_sql.json")))["funnel"]
        ctes, final = split_ctes(sql)
        con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"{pq(docs_dir + '/documents.parquet')}")
        for name, body in ctes:
            con.sql(f"CREATE OR REPLACE TEMP TABLE {name} AS ({body})")
        con.sql(f"COPY ({final}) TO '{f_path}.tmp' (FORMAT parquet)")
        con.sql(f"COPY (SELECT doc_id FROM cur) TO '{c_path}.tmp' (FORMAT parquet)")
        os.replace(f_path + ".tmp", f_path)
        os.replace(c_path + ".tmp", c_path)
    con.sql(f"CREATE OR REPLACE TABLE exp_funnel AS SELECT * FROM read_parquet('{f_path}')")
    con.sql(f"CREATE OR REPLACE TABLE exp_curated AS SELECT * FROM read_parquet('{c_path}')")


def curation(con, inputs, result, ops):
    """CorpusCurationJob.run writes the curated corpus and the funnel:
    the funnel must equal the q91 oracle replay, the curated ids must
    equal the oracle's curated set, and the funnel's last stage must
    count the curated rows."""
    curation_oracle(con, inputs["docs"])
    out = []
    for op in ops:
        o = op["output"]
        ok1, _ = compare(con, pq(f"{o}/funnel"), "exp_funnel")
        ok2, recall = compare(con, f"(SELECT doc_id FROM {pq(o + '/curated')})",
                              "exp_curated")
        n_cur = con.sql(f"SELECT count(*) FROM {pq(o + '/curated')}").fetchone()[0]
        n_q = con.sql(f"SELECT sum(n_quality) FROM {pq(o + '/funnel')}").fetchone()[0]
        out.append((ok1 and ok2 and n_cur == n_q, recall))
    return out


def stream(con, inputs, result, ops):
    """After the drive: curated (id, text) rows are unique, carry
    distinct texts and come from the input, and the band store's
    (doc_id, band, band_key) rows are exactly the bands the JVM computes
    for the curated documents (expected_bands, written next to the
    output). Recall is the share of those expected band rows the store
    holds."""
    verdict = {}
    for d in sorted({op["output"] for op in ops}):
        cur, inp = pq(f"{d}/curated", hive=True), pq(f"{d}/watch")
        con.sql(f"CREATE OR REPLACE TABLE exp_bands AS SELECT doc_id, band, band_key "
                f"FROM {pq(d + '/expected_bands')}")
        n, n_ids, n_texts = con.sql(
            f"SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text) FROM {cur}").fetchone()
        foreign = con.sql(f"SELECT count(*) FROM (SELECT doc_id, text FROM {cur} "
                          f"EXCEPT ALL SELECT doc_id, text FROM {inp})").fetchone()[0]
        bands_ok, recall = compare(
            con, f"(SELECT doc_id, band, band_key FROM {pq(d + '/store', hive=True)})",
            "exp_bands")
        verdict[d] = (n == n_ids == n_texts and foreign == 0 and bands_ok, recall)
    return [verdict[op["output"]] for op in ops]


def ann(con, inputs, result, ops):
    """Every probe gets exactly k rows ranked 1..k, with distinct valid
    corpus ids other than its own. Recall is recall@k against the exact
    bruteForceKnn top-k of the same probes."""
    k = result["record"]["k"]
    corpus_dir = inputs["ann"]
    ids = {r[0] for r in con.sql(
        f"SELECT vec_id FROM {pq(corpus_dir + '/corpus.parquet')}").fetchall()}
    exact = {}
    with open(result["record"]["exact"]) as fh:
        for line in fh:
            q, c = json.loads(line)
            exact.setdefault(q, set()).add(c)
    served = {}
    if ops:
        with open(ops[0]["output"].split("#")[0]) as fh:
            for line in fh:
                rec = json.loads(line)
                served[rec["op"]] = rec
    out = []
    for op in ops:
        rec = served.get(int(op["output"].split("#")[1]))
        if rec is None:
            out.append((False, 0.0))
            continue
        by_probe = {}
        for q, c, rank in rec["rows"]:
            by_probe.setdefault(q, []).append((rank, c))
        ok = set(by_probe) == set(rec["probes"])
        hits = 0
        for q in rec["probes"]:
            rows = sorted(by_probe.get(q, []))
            cs = [c for _, c in rows]
            ok = ok and ([r for r, _ in rows] == list(range(1, k + 1))
                         and len(set(cs)) == k and q not in cs
                         and all(c in ids for c in cs))
            hits += len(set(cs) & exact.get(q, set()))
        out.append((ok, hits / (k * len(rec["probes"]))))
    return out


CHECKS = {"report": weekly, "curate": curation, "batch": stream,
          "compaction": stream, "serve": ann}


def all_ops(result):
    passes = list(result["passes"])
    if result.get("traced_pass"):
        passes.append(result["traced_pass"])
    return ([op for p in passes for op in p["ops"]] + result["layer_ops"]
            + result["sample_ops"])


def check(inputs, result):
    """(ok, recall) for every operation of the run, in all_ops order.
    An operation that threw, or of an unknown kind, is wrong without
    looking at its output."""
    ops = all_ops(result)
    verdicts = {}
    con = connect()
    try:
        for kind, fn in CHECKS.items():
            mine = [i for i, op in enumerate(ops) if op["kind"] == kind and not op["error"]]
            if mine:
                verdicts.update(zip(mine, fn(con, inputs, result, [ops[i] for i in mine])))
    finally:
        con.close()
    return [verdicts.get(i, (False, 0.0)) for i in range(len(ops))]


def tail(latencies):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below 20 samples that percentile would sit
    under the median, so the maximum (p100) is reported instead."""
    s = sorted(latencies)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def end_to_end(result, verdicts):
    """The end-to-end metrics of an untraced run. Timings come from the
    untraced passes only; ok_ratio covers every operation, and recall the
    run's sample operations if it made any (they come last in all_ops
    order), else every operation."""
    passes = result["passes"]
    lat = [op["latency_ms"] for p in passes for op in p["ops"] if not op["error"]] or [0.0]
    t, pct, n = tail(lat)
    ok = sum(1 for v, _ in verdicts if v)
    n_sample = len(result["sample_ops"])
    sampled = verdicts[-n_sample:] if n_sample else verdicts
    return {
        "setup_s": result["setup_s"],
        "run_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": t,
        "shuffle_mb": statistics.median(p["shuffle_mb"] for p in passes),
        "storage_peak_mb": statistics.median(p["storage_peak_mb"] for p in passes),
        "ok_ratio": ok / len(verdicts),
        "recall": statistics.mean(r for _, r in sampled),
    }, {"tail_percentile": pct, "tail_n": n}
