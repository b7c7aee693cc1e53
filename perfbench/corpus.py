"""Seeded curation corpus generator and the DuckDB oracle check.

The corpus has the driver's `documents` and `embeddings` schemas:
`doc_id,text,lang,source,n_chars` and `vec_id,embedding float[],label`.
Text alternates a 30-word head vocabulary with tail tokens drawn from a
vocabulary that grows with the corpus, so random documents share almost
no shingles; 5% of documents and vectors are planted near-duplicates of
another one, which is the structure the dedup operators mine.
"""
import datetime
import glob
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEAD = ("spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast the row "
        "agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
DIM = 64


def _planted(ids):
    return ids % 20 == 11


def documents(seed, n):
    rng = np.random.default_rng([seed, 1])
    tail_v = max(4096, n)
    texts = []
    words_of = {}
    base_of = np.where(_planted(np.arange(n)), rng.integers(0, n, n), np.arange(n))
    for d in range(n):
        base = int(base_of[d])
        if base != d and base % 20 == 11:
            base = (base + 1) % n  # a base is never itself a planted copy
        if base not in words_of:
            brng = np.random.default_rng([seed, 2, base])
            k = int(brng.integers(10, 101))
            parity = int(brng.integers(0, 2))
            head = brng.integers(0, len(HEAD), k)
            tail = brng.integers(0, tail_v, k)
            words_of[base] = [HEAD[head[j]] if (j + parity) % 2 == 0 else "w%d" % tail[j]
                              for j in range(k)]
        words = list(words_of[base])
        if base != d:
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts.append(" ".join(words))
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n)]
    source = ["src%d" % i for i in rng.integers(0, 20, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n):
    rng = np.random.default_rng([seed, 3])
    raw = rng.standard_normal((n, DIM))
    ids = np.arange(n)
    dups = ids[_planted(ids)]
    bases = rng.integers(0, n, len(dups))
    bases = np.where(_planted(bases), (bases + 1) % n, bases)
    raw[dups] = raw[bases] + 0.05 * rng.standard_normal((len(dups), DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(unit.reshape(-1), pa.float32()), DIM)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write(directory, seed, n_docs, n_vecs):
    os.makedirs(directory, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(directory, "documents.parquet"))
    pq.write_table(embeddings(seed, n_vecs), os.path.join(directory, "embeddings.parquet"))


# -- oracle check --------------------------------------------------------

def _norm(v):
    # Spark writes instants with a UTC zone, DuckDB reads them naive;
    # the session zone is UTC, so the wall values are comparable.
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v


def canonical(table):
    """(sorted column names, rows, hash of the sorted repr rows)."""
    cols = sorted(table.column_names)
    data = {c: table.column(c).to_pylist() for c in cols}
    rows = sorted("|".join(repr(_norm(data[c][i])) for c in cols)
                  for i in range(table.num_rows))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
    return cols, table.num_rows, h.hexdigest()


def oracle_check(corpus_dir, results_dir, oracle_sql):
    """Compare each dumped query result with its DuckDB oracle; return
    {query: None if equal, else a reason}."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(corpus_dir, t + ".parquet")))
        verdicts = {}
        for name, sql in sorted(oracle_sql.items()):
            files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
            if not files:
                verdicts[name] = "no result written"
                continue
            got = canonical(pq.read_table(files[0]))
            want = canonical(con.execute(sql).fetch_arrow_table())
            verdicts[name] = (None if got == want else
                              "columns %s vs %s, rows %d vs %d, hash differs"
                              % (got[0], want[0], got[1], want[1]))
        return verdicts
    finally:
        con.close()
