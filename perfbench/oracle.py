"""DuckDB oracle for registry_mix: hash each registered query's oracle SQL
result and graft's own rows with the normalisation tools/selfcheck.py
uses (columns sorted by name, floats rounded to 9 places, -0.0 folded,
rows sorted), so both sides compare as one digest."""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def digest(rel):
    cols = [d[0] for d in rel.description]
    rows = norm(rel.fetchall(), cols)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def oracle_hashes(data_dir, sql_by_name, cache_path, inputs_sha256):
    """Hashes of every oracle SQL over the generated tables, computed once
    per (inputs, SQL text) and cached beside the data. `inputs_sha256` is
    the generator's checksum of the tables, so regenerated inputs never
    meet hashes of the old ones."""
    key = hashlib.sha256(json.dumps({"inputs": inputs_sha256, "sql": sql_by_name},
                                    sort_keys=True).encode()).hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["hashes"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    hashes = {}
    for name, sql in sorted(sql_by_name.items()):
        try:
            hashes[name] = digest(con.execute(sql))
        except duckdb.Error as e:
            hashes[name] = {"error": str(e)[:300]}
    with open(cache_path + ".tmp", "w") as f:
        json.dump({"key": key, "hashes": hashes}, f)
    os.replace(cache_path + ".tmp", cache_path)
    return hashes


def graft_hash(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return {"error": f"no parquet output in {out_dir}"}
    con = duckdb.connect()
    return digest(con.execute("SELECT * FROM read_parquet(?)", [files]))


def compare(check_dir, sql_by_name, hashes):
    """{query: None if graft's rows match the oracle, else the reason}."""
    out = {}
    for name in sql_by_name:
        want = hashes.get(name, {"error": "no oracle hash"})
        got = graft_hash(os.path.join(check_dir, name))
        if "error" in want or "error" in got:
            out[name] = want.get("error") or got.get("error")
        elif want != got:
            out[name] = f"graft {got['rows']} rows vs oracle {want['rows']} rows, digests differ"
        else:
            out[name] = None
    return out
