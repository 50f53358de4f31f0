"""Output checks for every workload, computed in DuckDB and numpy from the
generated inputs, independently of the engine.

Each ``check_<workload>`` returns ``(checks, scores)``: ``checks`` maps a
check name to ``(passed, detail)``, ``scores`` holds approximation
quality figures (recall) that are reported beside the speed metrics.
With ``corrupt=True`` one row of the engine's checked output is dropped
before comparing, which must make a check fail.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa

# recall floors, held by the engine when the benchmark was defined (recall_at_10
# 0.62 to 0.78 and pair_recall 0.92 to 0.93 over the seeds tried)
RECALL_AT_10_FLOOR = 0.40
PAIR_RECALL_FLOOR = 0.75

FUEL_BASE_CENTS = {"Unleaded 91": 279, "Unleaded 95": 298,
                   "Unleaded 98": 311, "Diesel": 210}
STATION_COLS = ("location_id", "brand_name", "location_name", "latitude",
                "longitude", "address_line1", "city", "state_province",
                "postal_code", "country")


def _engine(con, name, path, corrupt):
    """A view over engine output; the corrupt variant misses one row."""
    con.execute(f"CREATE VIEW {name}_all AS SELECT * FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)")
    keep = "count(*) - 1" if corrupt else "count(*)"
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_all LIMIT "
                f"(SELECT {keep} FROM {name}_all)")


def _diff(con, a, b):
    """Rows in a but not b plus rows in b but not a (multiset)."""
    return con.execute(f"SELECT (SELECT count(*) FROM (FROM {a} EXCEPT ALL "
                       f"FROM {b})) + (SELECT count(*) FROM (FROM {b} "
                       f"EXCEPT ALL FROM {a}))").fetchone()[0]


def _normalize(dialect, p):
    if dialect == "bp":
        return [(r["id"], r["site_brand"], r["name"], r["lat"], r["lng"],
                 r["address"], r["city"], r["state"], r["postcode"],
                 r["country_code"]) for r in p]
    if dialect == "mobil":
        return [(r["LocationID"], r["BrandName"], r["LocationName"],
                 r["Latitude"], r["Longitude"], r["AddressLine1"], r["City"],
                 r["StateProvince"], r["PostalCode"], r["Country"])
                for r in p["Locations"]]
    return [(r["place_id"], r["name"], r["name"],
             r["geometry"]["location"]["lat"],
             r["geometry"]["location"]["lng"], r["vicinity"],
             r["vicinity"].split(",")[-1].strip() if "," in r["vicinity"]
             else "", "", "", "NZ") for r in p["results"]]


def check_station_etl(inputs, res, corrupt=False):
    c = res["checks"]
    con = duckdb.connect()
    truth = json.load(open(os.path.join(inputs, "truth.json")))
    con.execute(f"CREATE TABLE want AS SELECT {', '.join(STATION_COLS)} FROM "
                f"read_parquet('{inputs}/stations_seed.parquet')")
    order = ", ".join(STATION_COLS[1:])
    for b in truth["batches"]:
        rows = []
        with open(os.path.join(inputs, "batches", b["file"])) as f:
            for line in f:
                rows.extend(_normalize(b["dialect"], json.loads(line)))
        batch = pa.table(dict(zip(STATION_COLS, map(list, zip(*rows)))))
        # first seen per key under the total order of the other columns,
        # then only keys the table does not hold yet
        con.execute(f"""INSERT INTO want SELECT {', '.join(STATION_COLS)} FROM (
            SELECT *, row_number() OVER (PARTITION BY location_id
              ORDER BY {order}) AS rn FROM batch)
            WHERE rn = 1 AND location_id NOT IN (SELECT location_id FROM want)""")
    _engine(con, "got", c["stations"], corrupt)
    con.execute(f"CREATE VIEW got_rows AS SELECT {', '.join(STATION_COLS)} FROM got")
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    checks = {
        "stations_match_oracle": (_diff(con, "got_rows", "want") == 0,
                                  f"{n_want} rows expected"),
        "stations_match_planted": (n_want == truth["stations_final"],
                                   f"planted {truth['stations_final']}"),
    }
    n_st = n_want
    days = int(c["days"])
    for name, n_days in (("prices", days), ("prices_daily", 1)):
        _engine(con, name, c[name], corrupt)
        n, n_keys, bad = con.execute(f"""SELECT count(*),
            count(DISTINCT (location_id, fuel_type, date)),
            count(*) FILTER (WHERE round(price * 100) NOT BETWEEN
              base - 37 AND base + 23)
            FROM {name} JOIN (VALUES {', '.join(
                f"('{k}', {v})" for k, v in FUEL_BASE_CENTS.items())})
              AS f(fuel_type, base) USING (fuel_type)""").fetchone()
        checks[f"{name}_unique"] = (n == n_keys, f"{n} rows, {n_keys} keys")
        checks[f"{name}_count"] = (n == n_st * 4 * n_days,
                                   f"{n} rows, want {n_st * 4 * n_days}")
        checks[f"{name}_in_band"] = (bad == 0, f"{bad} outside the band")
    # re-pricing a stored day and merging it is a fixpoint
    con.execute("CREATE VIEW last_day AS SELECT location_id, fuel_type, price "
                "FROM prices WHERE date = (SELECT max(date) FROM prices)")
    con.execute("CREATE VIEW daily AS SELECT location_id, fuel_type, price "
                "FROM prices_daily")
    checks["daily_merge_fixpoint"] = (_diff(con, "daily", "last_day") == 0, "")
    return checks, {f"rows_{k}": v for k, v in truth["rows_by_kind"].items()}


def _curation_twin(con, docs_path, sql_path, survivors, corrupt,
                   max_postings=5000):
    """The engine's survivors against the DuckDB twin of the curation SQL,
    with the twin's shingle posting cap set to the one the engine used."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_path}')")
    sql = open(sql_path).read()
    cap = "HAVING count(*) <= 5000"
    assert sql.count(cap) == 1, "the curation twin's posting cap moved"
    sql = sql.replace(cap, f"HAVING count(*) <= {max_postings}")
    con.execute(f"CREATE TABLE twin AS SELECT doc_id, n_words, quality_score "
                f"FROM ({sql})")
    _engine(con, "surv", survivors, corrupt)
    con.execute("CREATE VIEW surv_rows AS SELECT doc_id, n_words, "
                "quality_score FROM surv")
    n = con.execute("SELECT count(*) FROM twin").fetchone()[0]
    return _diff(con, "surv_rows", "twin") == 0, f"{n} survivors expected"


def exact_pairs(con, docs_path, threshold):
    """Every pair of documents whose distinct word-trigram sets have a
    Jaccard similarity at or above `threshold`, found exactly: prefix
    filtering (a pair over the threshold must share one of the rarest
    |A| - ceil(t|A|) + 1 shingles of A) and verification on full sets.
    """
    con.execute(f"""CREATE OR REPLACE TABLE sh AS
        WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
                   FROM read_parquet('{docs_path}'))
        , p AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t)
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
        FROM p""")
    con.execute("""CREATE OR REPLACE TABLE sets AS
        SELECT doc_id, list(s) AS ss, count(*) AS n FROM sh GROUP BY doc_id""")
    con.execute(f"""CREATE OR REPLACE TABLE prefix AS
        WITH df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        ranked AS (
          SELECT sh.doc_id, sh.s, row_number() OVER (PARTITION BY sh.doc_id
            ORDER BY df.df, sh.s) AS rk
          FROM sh JOIN df USING (s))
        SELECT ranked.doc_id, s FROM ranked JOIN sets USING (doc_id)
        WHERE rk <= n - ceil({threshold} * n) + 1""")
    return con.execute(f"""
        WITH cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                      FROM prefix a JOIN prefix b
                      ON a.s = b.s AND a.doc_id < b.doc_id)
        SELECT id_a, id_b FROM (
          SELECT id_a, id_b, len(list_intersect(sa.ss, sb.ss)) AS i,
                 sa.n AS na, sb.n AS nb
          FROM cand JOIN sets sa ON sa.doc_id = id_a
                    JOIN sets sb ON sb.doc_id = id_b)
        WHERE i >= {threshold} * (na + nb - i)""").fetchall()


def exact_topk(inputs, k=10):
    """Exact cosine top-k per query, ranked like the engine's brute force:
    similarity rounded to 6 places, descending, then vector id."""
    con = duckdb.connect()
    ids, vecs = zip(*con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{inputs}/embeddings.parquet') "
        f"ORDER BY vec_id").fetchall())
    ids = np.asarray(ids)
    m = np.asarray(vecs, dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pos = {v: i for i, v in enumerate(ids.tolist())}
    q = [r[0] for r in con.execute(
        f"SELECT vec_id FROM read_parquet('{inputs}/queries.parquet')").fetchall()]
    out = {}
    for qid in q:
        sim = np.round(m @ m[pos[qid]], 6)
        sim[pos[qid]] = -np.inf
        order = np.lexsort((ids, -sim))[:k]
        out[qid] = set(ids[order].tolist())
    return out


def check_corpus_dedup(inputs, res, corrupt=False):
    c = res["checks"]
    d = c["dir"]
    docs = os.path.join(inputs, "documents.parquet")
    con = duckdb.connect()
    checks = {"survivors_match_sql_twin": _curation_twin(
        con, docs, f"{d}/curation.sql", f"{d}/survivors", corrupt,
        int(c["max_postings"]))}
    t = float(c["minhash_threshold"])
    exact = set(exact_pairs(con, docs, t))
    got = set(con.execute(f"SELECT id_a, id_b FROM read_parquet("
                          f"'{d}/minhash_pairs/*.parquet')").fetchall())
    pair_recall = len(exact & got) / max(len(exact), 1)
    want = exact_topk(inputs)
    ann = {}
    for qid, vid in con.execute(f"SELECT query_id, vec_id FROM read_parquet("
                                f"'{d}/ann/*.parquet')").fetchall():
        ann.setdefault(qid, set()).add(vid)
    recall = sum(len(ann.get(q, set()) & v) for q, v in want.items()) / (
        10 * len(want))
    checks["recall_at_10_floor"] = (recall >= RECALL_AT_10_FLOOR,
                                    f"{recall:.4f} >= {RECALL_AT_10_FLOOR}")
    checks["pair_recall_floor"] = (pair_recall >= PAIR_RECALL_FLOOR,
                                   f"{pair_recall:.4f} >= {PAIR_RECALL_FLOOR}")
    return checks, {"recall_at_10": recall, "pair_recall": pair_recall,
                    "exact_pairs": len(exact), "lsh_pairs": len(got)}


def check_nightly_fold(inputs, res, corrupt=False):
    c = res["checks"]
    d = c["dir"]
    con = duckdb.connect()
    checks = {
        "survivors_match_one_shot_curate": (
            int(c["survivor_mismatches"]) == 0,
            f"{c['survivor_mismatches']} rows differ"),
        "survivors_match_sql_twin": _curation_twin(
            con, f"{d}/surviving_input/*.parquet", f"{d}/curation.sql",
            f"{d}/survivors", corrupt),
    }
    return checks, {}


CHECKS = {"station_etl": check_station_etl, "corpus_dedup": check_corpus_dedup,
          "nightly_fold": check_nightly_fold}
