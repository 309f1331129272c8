"""Seeded input generator for the perfbench workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. The engine is handed only these files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

prints one JSON object describing what was written (rows and bytes per
table, plus the workload's shape parameters).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z in seconds
ETL_DAYS = 2400

# star schema of the ETL requests: about sf0.1 (600k lineitem rows)
ETL_SIZES = {"supplier": 1000, "part": 20000, "customer": 15000,
             "lineitem": 600000, "events": 60000,
             "staging": 20000, "staging_vec": 1000}
# corpus_dedup: 24 shards of 1500 documents and 1500 vectors, 36k of each
# (7.2x the 5k documents / 5k embeddings of sf0.1)
CORPUS_SHARDS = 24
CORPUS_SHARD_ROWS = 1500
DIM = 64

STOP = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "it", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "des"],
    "fr": ["le", "la", "les", "et", "des", "du", "un", "une", "est", "pour"],
}
CONTENT = [
    "data", "table", "query", "spark", "join", "scan", "merge", "batch",
    "stream", "window", "vector", "index", "shuffle", "partition", "filter",
    "column", "row", "key", "value", "hash", "sort", "group", "order", "line",
    "customer", "supplier", "worker", "hours", "shift", "project", "task",
    "report", "invoice", "payroll", "schedule", "office", "client", "audit",
    "budget", "contract", "ledger", "account", "balance", "record", "entry",
    "field", "sheet", "export", "import", "sync", "cache", "store", "node",
    "cluster", "driver", "executor", "stage", "job", "plan", "cost", "model",
    "metric", "trace", "span", "layer", "event", "clock", "badge", "site",
]
TYPES = ["brass", "copper", "nickel", "steel", "tin", "chrome", "zinc",
         "iron", "bronze", "silver", "gold", "cobalt", "lead", "alloy",
         "carbon", "glass", "resin", "rubber", "timber", "marble"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood",
          "burnished", "chartreuse", "chiffon", "chocolate", "coral",
          "cornflower", "cornsilk", "cream", "cyan", "dark", "deep", "dim",
          "dodger", "drab", "firebrick", "floral", "forest", "frosted",
          "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
          "hot", "indian", "ivory", "khaki", "lace", "lavender", "lawn",
          "lemon", "light", "lime", "linen", "magenta", "maroon", "medium",
          "metallic", "midnight", "mint", "misty", "moccasin", "navajo",
          "navy", "olive", "orange", "orchid", "pale", "papaya", "peach",
          "peru", "pink", "plum", "powder", "puff", "purple", "red", "rose",
          "rosy", "royal", "saddle", "salmon", "sandy", "seashell", "sienna",
          "sky", "slate", "smoke", "snow", "spring", "tan", "thistle",
          "tomato", "turquoise", "violet", "wheat", "white", "yellow"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["clock_in", "clock_out", "break_start", "break_end"]
TIPOS = ["desarrollo", "soporte", "reunion", "formacion", "gestion",
         "analisis", "pruebas", "despliegue", "diseno", "documentacion"]


def write(out_dir, name, table, sizes):
    path = os.path.join(out_dir, name + ".parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return path


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_etl(rng, out, sizes):
    n = ETL_SIZES
    supp = np.arange(1, n["supplier"] + 1, dtype=np.int64)
    write(out, "supplier", pa.table({
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, len(supp)).astype(np.int32),
        # ~10% of suppliers are not in good standing: their facts drop (J4)
        "s_acctbal": money(rng, -999.99, 9000.0, len(supp)),
    }), sizes)
    parts = np.arange(1, n["part"] + 1, dtype=np.int64)
    names = []
    cw = rng.integers(0, len(COLORS), (len(parts), 4))
    with_type = rng.random(len(parts)) < 0.6
    tw = rng.integers(0, len(TYPES), len(parts))
    for i in range(len(parts)):
        words = [COLORS[j] for j in cw[i]]
        if with_type[i]:
            words.insert(int(cw[i][0]) % 4, TYPES[tw[i]])
        names.append(" ".join(words))
    write(out, "part", pa.table({
        "p_partkey": parts,
        "p_name": names,
        "p_brand": [f"Brand#{1 + k % 5}{1 + k % 7}" for k in parts],
        "p_type": [TYPES[j] for j in rng.integers(0, len(TYPES), len(parts))],
        "p_size": rng.integers(1, 51, len(parts)).astype(np.int32),
        "p_retailprice": money(rng, 900.0, 2100.0, len(parts)),
    }), sizes)
    cust = np.arange(1, n["customer"] + 1, dtype=np.int64)
    write(out, "customer", pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, len(cust)).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, len(cust)),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, len(cust))],
    }), sizes)
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship_day = rng.integers(0, ETL_DAYS, m)
    meta = os.path.join(out, "_meta")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "lineitem_days.txt"), "w") as f:
        f.write("\n".join(str(int(c)) for c in
                          np.bincount(ship_day, minlength=ETL_DAYS)) + "\n")
    ship_us = (EPOCH_1992 * 1_000_000 + ship_day * DAY_US
               + rng.integers(0, 86_400, m) * 1_000_000)
    write(out, "lineitem", pa.table({
        "l_orderkey": (np.arange(m) // 4 + 1).astype(np.int64),
        "l_partkey": rng.integers(1, n["part"] + 1, m).astype(np.int64),
        "l_suppkey": rng.integers(1, n["supplier"] + 1, m).astype(np.int64),
        "l_linenumber": (np.arange(m) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(rng, 900.0, 2100.0, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(ship_us, type=pa.timestamp("us")),
    }), sizes)
    e = n["events"]
    ts = (EPOCH_1992 * 1_000_000
          + rng.integers(0, ETL_DAYS * 86_400, e) * 1_000_000)
    write(out, "events", pa.table({
        "event_id": np.arange(1, e + 1, dtype=np.int64),
        "ts": pa.array(np.sort(ts), type=pa.timestamp("us")),
        # ~9% of clock-ins come from users with no customer row (J5 left)
        "user_id": rng.integers(1, int(n["customer"] * 1.1), e).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 4, e)],
        "value": money(rng, 0.0, 3600.0, e),
        "props": ['{"site":%d}' % j for j in rng.integers(0, 50, e)],
    }), sizes)
    s = n["staging"]
    horas = money(rng, 0.25, 10.0, s)
    write(out, "staging", pa.table({
        "id": np.arange(1, s + 1, dtype=np.int64),
        "s_suppkey": rng.integers(1, 201, s).astype(np.int64),
        "tipo": [TIPOS[j] for j in rng.integers(0, len(TIPOS), s)],
        # ~10% missing hours: the imputation target
        "horas": pa.array(horas, mask=rng.random(s) < 0.10),
    }), sizes)
    v = n["staging_vec"]
    vec = rng.standard_normal((v, 16)).astype(np.float32)
    write(out, "staging_vec", pa.table({
        "id": np.arange(1, v + 1, dtype=np.int64),
        "vec": pa.array(list(vec), type=pa.list_(pa.float32())),
        "horas": pa.array(money(rng, 0.25, 10.0, v), mask=rng.random(v) < 0.05),
    }), sizes)
    return {"days": ETL_DAYS, "first_day": "1992-01-01"}


def documents(rng, ids):
    """Near-duplicate-structured text: ~25% of documents are edited copies
    of an earlier document of the same block (1-3 word substitutions), ~5%
    exact copies; the rest are fresh draws."""
    langs = list(STOP)
    zipf = 1.0 / np.arange(1, len(CONTENT) + 1)
    zipf /= zipf.sum()
    texts, lang_col = [], []
    for i in range(len(ids)):
        r = rng.random()
        if i > 0 and r < 0.30:
            j = int(rng.integers(max(0, i - 200), i))
            words = texts[j].split(" ")
            if r >= 0.05:
                for _ in range(int(rng.integers(1, 4))):
                    words[int(rng.integers(0, len(words)))] = CONTENT[
                        int(rng.integers(0, len(CONTENT)))]
            texts.append(" ".join(words))
            lang_col.append(lang_col[j])
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        n = int(rng.integers(8, 90))
        content = rng.choice(len(CONTENT), n, p=zipf)
        stop = rng.integers(0, len(STOP[lang]), n)
        use_stop = rng.random(n) < 0.35
        words = [STOP[lang][stop[k]] if use_stop[k] else CONTENT[content[k]]
                 for k in range(n)]
        texts.append(" ".join(words))
        lang_col.append(lang)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang_col,
        "source": [f"src{k % 20}" for k in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, ids, centers):
    """Clustered unit vectors; ~15% are near-copies (cos > 0.97) of an
    earlier vector of the same block."""
    n = len(ids)
    lab = rng.integers(0, len(centers), n)
    vec = centers[lab] + 0.6 * rng.standard_normal((n, DIM))
    for i in range(1, n):
        if rng.random() < 0.15:
            j = int(rng.integers(max(0, i - 200), i))
            vec[i] = vec[j] + 0.03 * rng.standard_normal(DIM)
            lab[i] = lab[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vec.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })


def gen_corpus(rng, out, sizes):
    centers = rng.standard_normal((32, DIM))
    for s in range(CORPUS_SHARDS):
        ids = np.arange(s * CORPUS_SHARD_ROWS, (s + 1) * CORPUS_SHARD_ROWS,
                        dtype=np.int64)
        d = f"shard_{s:03d}"
        write(out, f"{d}/documents", documents(rng, ids), sizes)
        write(out, f"{d}/embeddings", embeddings(rng, ids, centers), sizes)
    return {"shards": CORPUS_SHARDS, "shard_rows": CORPUS_SHARD_ROWS}


GENERATORS = {"etl_requests": gen_etl, "corpus_dedup": gen_corpus}


def generate(workload, seed, out_dir):
    rng = np.random.Generator(np.random.PCG64(seed))
    sizes = {}
    shape = GENERATORS[workload](rng, out_dir, sizes)
    # the harness's own bookkeeping; not an input of the engine
    os.makedirs(os.path.join(out_dir, "_meta"), exist_ok=True)
    with open(os.path.join(out_dir, "_meta", "tables.tsv"), "w") as f:
        for name, t in sizes.items():
            f.write(f"{name}\t{t['rows']}\t{t['bytes']}\n")
    return {"workload": workload, "seed": seed, "tables": sizes,
            "shape": shape,
            "input_rows": sum(t["rows"] for t in sizes.values()),
            "input_bytes": sum(t["bytes"] for t in sizes.values())}


if __name__ == "__main__":
    wl, sd, od = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, sd, od)))
