"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet and CSV files, which `checksum` confirms.  The
program under test only ever sees these files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import csv
import hashlib
import json
import os
import shutil
import sys
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# a generated directory is reused only while this file is unchanged
with open(__file__, "rb") as _src:
    GEN_VERSION = hashlib.sha256(_src.read()).hexdigest()[:16]

# Sizes per workload, recorded in BENCHMARK.json's companion README and
# in each generated manifest.  `files` is the parquet file count of the
# documents table: 8 files already give a local[4] scan 8 splits, so
# Tables.fanOut passes through on ehr_classify.
SIZES = {
    "ehr_classify": {"documents": 480, "entries": [2, 6], "tokens": [30, 70],
                     "files": 8, "typo_rate": 0.25, "artefact_rate": 0.3},
    "registry_mix": {"docs": 480, "sources": 20, "exact_dup_groups": 12,
                     "near_dup_pairs": 16, "tokens": [40, 70], "files": 1,
                     "embeddings": 480, "dim": 64, "near_dup_vectors": 12,
                     "customer": 150, "supplier": 10, "part": 200,
                     "orders": 1500, "lineitem": 6000, "events": 1000},
}

# Clinical vocabulary: accents, Dutch and English terms, and the three
# word-match targets graft's Evaluation scorer looks for.
COMMON = ("patiënt klachten controle pijn gewricht knie pols hand schouder "
          "bloedonderzoek echo röntgen medicatie dosis advies beleid "
          "afspraak huisarts verwijzing status anamnese lichamelijk "
          "onderzoek zwelling stijfheid ochtend avond week maand jaar "
          "links rechts beiderzijds geen wel matig ernstig licht "
          "koorts moeheid gewicht bloeddruk pols-frequentie café "
          "naïef reëel coördinatie the and of with patient history "
          "exam follow plan review visit clinic result normal").split()
POSITIVE = ("artritis reumatoïde synovitis methotrexaat erosies "
            "polyartritis anti-ccp reumafactor data spark query").split()
NEGATIVE = ("artrose fractuur distorsie tendinitis griep contusie "
            "fysiotherapie overbelasting").split()
TARGETS = ["data", "spark", "query"]
ARTEFACTS = ["patiã«nt", "behandelingã¶", "x·y", "ãºitslag", "reã«el"]


def _typo(rng, word):
    """One adjacent transposition: edit distance 1 from `word`."""
    i = int(rng.integers(0, len(word) - 1))
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def _text(rng, n_tokens, positive, cfg):
    weights = 1.0 / np.arange(1, len(COMMON) + 1)
    weights /= weights.sum()
    toks = list(rng.choice(COMMON, size=n_tokens, p=weights))
    signal = POSITIVE if positive else NEGATIVE
    for i in range(n_tokens):
        r = rng.random()
        if r < 0.10:
            toks[i] = signal[int(rng.integers(0, len(signal)))]
        elif r < 0.13:
            toks[i] = TARGETS[int(rng.integers(0, 3))]
        elif r < 0.15:
            toks[i] = f"{int(rng.integers(1, 500))}mg"
    if rng.random() < cfg.get("artefact_rate", 0.0):
        toks[int(rng.integers(0, n_tokens))] = ARTEFACTS[int(rng.integers(0, len(ARTEFACTS)))]
    if rng.random() < cfg.get("typo_rate", 0.0):
        i = int(rng.integers(0, n_tokens))
        if len(toks[i]) >= 6 and toks[i].isalpha():
            toks[i] = _typo(rng, toks[i])
    return " ".join(toks)


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _write_docs(rows, out, files):
    cols = {k: [r[k] for r in rows] for k in ("doc_id", "text", "lang", "source")}
    cols["n_chars"] = [len(t) for t in cols["text"]]
    table = pa.Table.from_pydict(cols, schema=DOC_SCHEMA)
    if files == 1:
        _write(table, os.path.join(out, "documents.parquet"))
        return
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        _write(table.slice(k * step, step), os.path.join(d, f"part-{k:05d}.parquet"))


def ehr_classify(seed, out):
    """Patients with several entries each; the label (lang='en') is per
    patient and drives label-correlated terms.  The document count is the
    same for every seed, so throughput compares across seeds.  Written as
    multi-file parquet `documents` and as the same rows in `;`-CSV."""
    cfg = SIZES["ehr_classify"]
    rng = np.random.default_rng([seed, 1])
    rows, p = [], 0
    while len(rows) < cfg["documents"]:
        positive = rng.random() < 0.4
        for _ in range(int(rng.integers(cfg["entries"][0], cfg["entries"][1] + 1))):
            if len(rows) == cfg["documents"]:
                break
            n = int(rng.integers(cfg["tokens"][0], cfg["tokens"][1] + 1))
            rows.append({"doc_id": len(rows), "text": _text(rng, n, positive, cfg),
                         "lang": "en" if positive else "nl", "source": f"pat{p:05d}"})
        p += 1
    _write_docs(rows, out, cfg["files"])
    with open(os.path.join(out, "ehr.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, delimiter=";", lineterminator="\n")
        w.writerow(["PATNR", "annotation", "text"])
        for r in rows:
            w.writerow([int(r["source"][3:]), "true" if r["lang"] == "en" else "false", r["text"]])
    test = sum(1 for r in rows if r["doc_id"] % 2 == 1)
    return {"documents": len(rows), "patients": p,
            "positives": sum(r["lang"] == "en" for r in rows), "test_rows": test,
            "vocabulary": len(COMMON) + len(POSITIVE) + len(NEGATIVE)}


def _ascii(text):
    """Fold accents away. The registered queries' DuckDB oracles assume
    ASCII text: DuckDB's levenshtein counts bytes where Spark's counts
    characters, so q_dedup_editdist's oracle is only defined on ASCII."""
    return "".join(c for c in unicodedata.normalize("NFKD", text) if not unicodedata.combining(c))


def _registry_docs(rng, cfg):
    langs, lw = ["en", "nl", "de", "fr", "es"], [0.4, 0.15, 0.15, 0.15, 0.15]
    base = []
    for i in range(cfg["docs"]):
        lang = str(rng.choice(langs, p=lw))
        n = int(rng.integers(cfg["tokens"][0], cfg["tokens"][1] + 1))
        base.append({"text": _ascii(_text(rng, n, lang == "en", {})), "lang": lang,
                     "source": f"src{int(rng.integers(0, cfg['sources']))}"})
    # planted exact copies and one-token near-duplicates, appended so the
    # original always holds the smaller doc_id
    picks = rng.choice(len(base), size=cfg["exact_dup_groups"] + cfg["near_dup_pairs"],
                       replace=False)
    extra, near = [], []
    for j, i in enumerate(picks):
        src = base[int(i)]
        if j < cfg["exact_dup_groups"]:
            extra.append(dict(src))
        else:
            toks = src["text"].split(" ")
            k = int(rng.integers(0, len(toks)))
            toks[k] = "vervangen" if toks[k] != "vervangen" else "vervangen2"
            near.append((int(i), len(base) + len(extra)))
            extra.append({**src, "text": " ".join(toks)})
    rows = [{"doc_id": i, **r} for i, r in enumerate(base + extra)]
    return rows, near


def registry_mix(seed, out):
    """A star schema, an events stream table, documents with planted
    exact and near duplicates, and clustered embeddings with planted
    near-duplicate vectors — the tables graft's registered queries read."""
    cfg = SIZES["registry_mix"]
    rng = np.random.default_rng([seed, 2])
    rows, near = _registry_docs(rng, cfg)
    _write_docs(rows, out, cfg["files"])

    def t(name, cols, schema):
        _write(pa.Table.from_pydict(cols, schema=pa.schema(schema)),
               os.path.join(out, f"{name}.parquet"))

    t("region", {"r_regionkey": list(range(5)),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
      [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    t("nation", {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": [i % 5 for i in range(25)]},
      [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())])
    nc = cfg["customer"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t("customer", {"c_custkey": list(range(nc)), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                   "c_nationkey": rng.integers(0, 25, nc).tolist(),
                   "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2).tolist(),
                   "c_mktsegment": [segs[int(k)] for k in rng.integers(0, 5, nc)]},
      [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
       ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())])
    ns = cfg["supplier"]
    t("supplier", {"s_suppkey": list(range(ns)), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                   "s_nationkey": rng.integers(0, 25, ns).tolist(),
                   "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2).tolist()},
      [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
       ("s_acctbal", pa.float64())])
    npart = cfg["part"]
    adj, noun = ["cold", "small", "large", "green", "shiny"], ["widget", "bolt", "gear", "valve"]
    types = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
    t("part", {"p_partkey": list(range(npart)),
               "p_name": [f"{adj[int(a)]} {noun[int(b)]}" for a, b in
                          zip(rng.integers(0, 5, npart), rng.integers(0, 4, npart))],
               "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, npart)],
               "p_type": [types[int(k)] for k in rng.integers(0, 6, npart)],
               "p_size": rng.integers(1, 51, npart).tolist(),
               "p_retailprice": [round(900 + i * 0.1, 2) for i in range(npart)]},
      [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
       ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    no = cfg["orders"]
    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01", "us")
    odates = start + rng.integers(0, 2400, no) * day
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t("orders", {"o_orderkey": list(range(no)), "o_custkey": rng.integers(0, nc, no).tolist(),
                 "o_orderstatus": [("F", "O", "P")[int(k)] for k in rng.integers(0, 3, no)],
                 "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2).tolist(),
                 "o_orderdate": odates, "o_orderpriority": [prios[int(k)] for k in rng.integers(0, 5, no)]},
      [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
       ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
       ("o_orderpriority", pa.string())])
    nl = cfg["lineitem"]
    okeys = np.sort(rng.integers(0, no, nl))
    linenum = np.zeros(nl, dtype=np.int64)
    for i in range(1, nl):
        linenum[i] = linenum[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, nl).astype(float)
    flags = [("A", "N", "R")[int(k)] for k in rng.integers(0, 3, nl)]
    t("lineitem", {"l_orderkey": okeys.tolist(), "l_partkey": rng.integers(0, npart, nl).tolist(),
                   "l_suppkey": rng.integers(0, ns, nl).tolist(), "l_linenumber": (linenum + 1).tolist(),
                   "l_quantity": qty.tolist(),
                   "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2).tolist(),
                   "l_discount": (rng.integers(0, 11, nl) / 100).tolist(),
                   "l_tax": (rng.integers(0, 9, nl) / 100).tolist(),
                   "l_returnflag": flags, "l_linestatus": [("F", "O")[int(k)] for k in rng.integers(0, 2, nl)],
                   "l_shipdate": odates[okeys] + rng.integers(1, 120, nl) * day},
      [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
       ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
       ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
       ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))])
    ne = cfg["events"]
    ev_types = ["click", "error", "purchase", "signup", "view"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    t("events", {"event_id": list(range(ne)), "ts": ts, "user_id": rng.integers(0, 15, ne).tolist(),
                 "event_type": [ev_types[int(k)] for k in rng.integers(0, 5, ne)],
                 "value": np.round(rng.uniform(0.01, 330, ne), 2).tolist(),
                 "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]},
      [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
       ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
    nv, dim = cfg["embeddings"], cfg["dim"]
    centers = rng.normal(0, 0.15, (10, dim))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0, 0.08, (nv, dim))
    dups = rng.choice(nv // 2, size=cfg["near_dup_vectors"], replace=False)
    for j, i in enumerate(dups):
        vecs[nv - 1 - j] = vecs[i] + rng.normal(0, 1e-3, dim)
        labels[nv - 1 - j] = labels[i]
    t("embeddings", {"vec_id": list(range(nv)),
                     "embedding": [v.astype(np.float32).tolist() for v in vecs],
                     "label": labels.tolist()},
      [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    return {"documents": len(rows), "sources": cfg["sources"],
            "exact_dup_groups": cfg["exact_dup_groups"], "near_dup_pairs": near,
            "vocabulary": len(COMMON) + len(POSITIVE) + len(NEGATIVE),
            "dup_rate": round((cfg["exact_dup_groups"] + cfg["near_dup_pairs"]) / len(rows), 4),
            "embeddings": nv, "lineitem": nl, "events": ne}


GENERATORS = {"ehr_classify": ehr_classify, "registry_mix": registry_mix}


def checksum(out):
    """sha256 over every generated file (relative path + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Generate once per (workload, seed): a finished directory carries
    manifest.json, written last, and is reused as is. Any other directory
    is emptied first, so no file of an older generator (a part file, a
    cached oracle) outlives it."""
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("version") == GEN_VERSION:
            return m
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    facts = GENERATORS[workload](seed, out)
    m = {"version": GEN_VERSION, "workload": workload, "seed": seed,
         "sizes": SIZES[workload], "facts": facts, "sha256": checksum(out)}
    with open(manifest + ".tmp", "w") as f:
        json.dump(m, f, indent=1)
    os.replace(manifest + ".tmp", manifest)
    return m


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])["sha256"]))
