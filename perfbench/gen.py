"""Seeded benchmark inputs. The same seed always gives the same files, and
the program reads only these files. Nothing here is timed.

Farm facts follow the GenFarms grammar: the JVM writes one base fleet per
checkout with graft.devtools.GenFarms (perfbench.Gen) and each seed picks
its fleet from it by ranking farm numbers on hash(farm_no, salt, seed).

Documents and embeddings are drawn from the seed with the shape of the
repository's sf0.1 test corpus (documents.parquet, embeddings.parquet),
which GenScale scales to sf1. Measured on that corpus:
  documents   5,000 rows; words drawn uniformly from 30 (28 content words
              plus the stopwords "the" and "a"); 10 to 100 words, uniform;
              250 (5%) are another document's text plus the word "dup"
              (near duplicates) and 8 texts occur twice (two near
              duplicates of one document); lang en 41%, zh 15%, es 15%,
              fr 15%, de 14%; source is src<doc_id mod 20>.
  embeddings  2,000 unit-length 64-dim vectors with coordinate std 0.125
              (directions uniform: each label's centroid has norm 0.06 to
              0.08, the norm of a mean of 200 random unit vectors); label
              uniform over 10 values, independent of the vector.
"""
import json
import os
import random
import shutil

import pyarrow as pa

import checks

BASES = ("farms-base", "curation-sql")

FLEET = 500              # weekly drive of a traced ann_serve: farms drawn
WARM_FLEET = 40          # from the 2,000-farm base, and its warm pass
CURATION_DOCS = 3000     # curation_run (plus q91's re-crawl copies)
WARM_DOCS = 500          # curation_run warm pass
STREAM_BATCHES = 2       # nearDupStream drive of a traced curation_run
STREAM_PER_BATCH = 300
ANN_CORPUS = 2000        # ann_serve: corpus vectors, and fresh probe vectors
ANN_PROBES = 8000        # (far more than a run serves; run.py stops before
ANN_LABELS = 10          # they run out)
PROBE_ID_BASE = 1_000_000_000

FARM_TABLES = ("modon", "modon_wk", "bunman", "eu", "trans", "lpd", "farm_config")
VOCAB = ("spark line column order small sort fast value scan hash slow group batch agg "
         "filter query big key window row part table stream merge data join vector "
         "customer the a").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (2059, 753, 744, 742, 702)
NEAR_DUP_SHARE = 0.05


def _write(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def _cached(out, build):
    if not os.path.exists(os.path.join(out, "_READY")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        con = checks.connect()
        try:
            build(con, out)
        finally:
            con.close()
        open(os.path.join(out, "_READY"), "w").close()
    return out


def farms(inputs, seed, n, salt):
    """n farms of the base fleet, every table restricted to them, and the
    weekly oracle SQL pointed at these files."""
    base = os.path.join(inputs, "farms-base")

    def build(con, out):
        con.sql(f"CREATE TABLE chosen AS SELECT DISTINCT farm_no FROM "
                f"{checks.pq(base + '/modon.parquet')} "
                f"ORDER BY hash(farm_no, '{salt}', {seed}), farm_no LIMIT {n}")
        for t in FARM_TABLES:
            _write(con, f"SELECT * FROM {checks.pq(f'{base}/{t}.parquet')} "
                        f"WHERE farm_no IN (SELECT farm_no FROM chosen)", f"{out}/{t}.parquet")
        sql = json.load(open(os.path.join(base, "oracle_sql.json")))
        with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
            json.dump({k: v.replace(base, out) for k, v in sql.items()}, fh)

    return _cached(os.path.join(inputs, f"farms-{n}-{salt}-s{seed}"), build)


def texts(rnd, n):
    """n documents in the sf0.1 corpus's shape: 10 to 100 words drawn
    uniformly from VOCAB; then a NEAR_DUP_SHARE of them, in id order,
    become the current text of another document plus " dup"."""
    out = [" ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
           for _ in range(n)]
    for i in range(n):
        if rnd.random() < NEAR_DUP_SHARE:
            j = rnd.randrange(n - 1)
            out[i] = out[j + (j >= i)] + " dup"
    return out


def curation(inputs, seed, n, salt):
    """n documents (documents.parquet, the table the q91 oracle SQL reads)
    and the curation input built from them as q91 does: the documents
    plus a re-crawl of those with doc_id < 50 under new ids
    (input.parquet)."""
    def build(con, out):
        rnd = random.Random(f"{salt}-{seed}")
        ts = texts(rnd, n)
        docs = pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": ts,
            "lang": rnd.choices(LANGS, LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in ts], pa.int64())})
        con.register("docs", docs)
        _write(con, "SELECT * FROM docs", f"{out}/documents.parquet")
        _write(con, "SELECT * FROM docs UNION ALL SELECT doc_id + 1000000 AS doc_id, text, "
                    "lang, source, n_chars FROM docs WHERE doc_id < 50", f"{out}/input.parquet")
        shutil.copy(os.path.join(inputs, "curation-sql", "oracle_sql.json"), out)

    return _cached(os.path.join(inputs, f"curation-{n}-{salt}-s{seed}"), build)


def stream(inputs, seed):
    """STREAM_BATCHES * STREAM_PER_BATCH documents in the corpus's shape,
    fed in id order as STREAM_BATCHES batches (batch_<b>.parquet: doc_id,
    text). A near duplicate whose source sits in an earlier batch meets it
    through the band store; one in the same batch, through the batch's
    own dedup."""
    def build(con, out):
        rnd = random.Random(f"stream-{seed}")
        ts = texts(rnd, STREAM_BATCHES * STREAM_PER_BATCH)
        for b in range(STREAM_BATCHES):
            lo, hi = b * STREAM_PER_BATCH, (b + 1) * STREAM_PER_BATCH
            con.register("batch", pa.table({"doc_id": pa.array(range(lo, hi), pa.int64()),
                                            "text": ts[lo:hi]}))
            _write(con, "SELECT * FROM batch", f"{out}/batch_{b}.parquet")

    return _cached(os.path.join(inputs, f"stream-s{seed}"), build)


def unit_vectors(rnd, n, dim=64):
    """n vectors with uniformly random directions, scaled to length 1."""
    out = []
    for _ in range(n):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        out.append([x / norm for x in v])
    return out


def ann(inputs, seed):
    """ANN_CORPUS embeddings in the corpus's shape (corpus.parquet:
    vec_id, embedding, label) and ANN_PROBES fresh vectors of the same
    distribution as probes, ids from PROBE_ID_BASE, in serve order
    (probes.parquet: vec_id, embedding, q_order)."""
    def build(con, out):
        rnd = random.Random(f"ann-{seed}")
        con.register("corpus", pa.table({
            "vec_id": pa.array(range(ANN_CORPUS), pa.int64()),
            "embedding": pa.array(unit_vectors(rnd, ANN_CORPUS), pa.list_(pa.float32())),
            "label": pa.array([rnd.randrange(ANN_LABELS) for _ in range(ANN_CORPUS)],
                              pa.int32())}))
        _write(con, "SELECT * FROM corpus", f"{out}/corpus.parquet")
        con.register("probes", pa.table({
            "vec_id": pa.array(range(PROBE_ID_BASE, PROBE_ID_BASE + ANN_PROBES), pa.int64()),
            "embedding": pa.array(unit_vectors(rnd, ANN_PROBES), pa.list_(pa.float32())),
            "q_order": pa.array(range(ANN_PROBES), pa.int64())}))
        _write(con, "SELECT * FROM probes", f"{out}/probes.parquet")

    return _cached(os.path.join(inputs, f"ann-s{seed}"), build)


def inputs_for(workload, inputs, seed, traced):
    """The seeded input directories a workload's JVM run reads. A traced
    ann_serve run also drives the weekly report, a traced curation_run
    the stream."""
    if workload == "ann_serve":
        d = {"ann": ann(inputs, seed)}
        if traced:
            d.update(facts=farms(inputs, seed, FLEET, "fleet"),
                     warm_facts=farms(inputs, 0, WARM_FLEET, "warm"))
        return d
    d = {"docs": curation(inputs, seed, CURATION_DOCS, "docs"),
         "warm_docs": curation(inputs, 0, WARM_DOCS, "warm")}
    if traced:
        d["feed"] = stream(inputs, seed)
    return d
