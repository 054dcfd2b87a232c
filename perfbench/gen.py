"""Seeded input generators for the benchmark, with expected outputs.

Every expected value is computed here from the generator's own state,
never by the program under test:

* ``etl_corpus``   registry dump in the scraper's text format, plus the
                   per-table row counts and first-non-blank field values
                   the four written tables must hold;
* ``search_stream`` closed-loop request stream over the four tables, plus
                   the hit count of every request;
* ``board_fixture`` TPC-H-shaped star schema + events/documents/embeddings
                   in the column layout the operator queries read.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COUNTRIES = ["France", "Germany", "Italy", "Spain", "Austria", "Belgium",
             "Denmark", "Finland", "Sweden", "Poland", "Portugal", "Ireland",
             "Netherlands", "Greece", "Hungary"]
OUTSIDE = ["United States", "Japan", "Canada", "Switzerland"]
STATUSES = ["Ongoing", "Completed", "Prematurely Ended"]
N_CONDITIONS = 89
N_DRUGS = 500
N_SPONSORS = 400
PAGE = 200


def _trial(rng, t):
    """Per-trial facts; member-state records are drawn from these."""
    n_rec = rng.choice((2, 2, 3))
    return {
        "id": "20%02d-%06d-%02d" % (10 + t % 15, t, rng.randrange(100)),
        "n_rec": n_rec,
        "title": "Study %d of Compound D%d Versus Standard of Care" % (t, rng.randrange(N_DRUGS)),
        "condition": rng.randrange(N_CONDITIONS),
        "phase3": rng.random() < 0.5,
        "enrollment": 50 + rng.randrange(5000),
        "sponsor": rng.randrange(N_SPONSORS),
        "drugs": rng.sample(range(N_DRUGS), rng.choice((1, 1, 2, 3))),
        "countries": rng.sample(COUNTRIES, n_rec),
        "status": [rng.choice(STATUSES) for _ in range(n_rec)],
        "placebo": [rng.random() < 0.3 for _ in range(n_rec)],
        # the EEA-outside block and the end date sit in record 1 only
        "outside": rng.sample(OUTSIDE, rng.randrange(3)),
        "ended": rng.random() < 0.4,
    }


def _record(tr, t, ms):
    lines = ["EudraCT Number: %s" % tr["id"],
             "Trial Status: %s" % tr["status"][ms]]
    if ms == 0:
        lines.append("A.3 Full title of the trial: %s" % tr["title"])
    lines += [
        "A.4.1 Sponsor's protocol code number: PROTO-%d-%d" % (t, ms),
        "A.5.2 US NCT (ClinicalTrials.gov registry) number: NCT%08d" % (10000000 + t),
        "B.1.1 Name of Sponsor: Sponsor Organisation %d" % tr["sponsor"],
        "B.5.1 Name of organisation: Trials Unit %d" % (tr["sponsor"] % 97),
        # contacts repeat across records 0 and 2, so the sponsor dedup has work
        "B.5.2 Functional name of contact point: Clinical Operations Desk %d" % (ms % 2),
        "B.5.6 E-mail: contact%d@sponsor.example.org" % tr["sponsor"],
        "National Competent Authority: %s - NCA" % tr["countries"][ms],
    ]
    for i, d in enumerate(tr["drugs"]):
        lines.append("D.IMP: %d" % (i + 1))
        if ms == 0:
            lines.append("D.2.1.1.1 Trade name: Tradename%d Forte" % d)
        lines.append("D.3.1 Product name: Compound D%d" % d)
        lines.append("D.3.2 Product code: CD-%d" % d)
    lines += [
        "D.8.1 Is a Placebo used in this Trial? %s" % ("Yes" if tr["placebo"][ms] else "No"),
        "E.1.1 Medical condition(s) being investigated: Chronic Condition Variant %d with complications"
        % tr["condition"],
        "E.7.3 Therapeutic confirmatory (Phase III): %s" % ("Yes" if tr["phase3"] else "No"),
    ]
    if ms == 1:
        if tr["outside"]:
            lines.append("E.8.6.3 Specify the countries outside of the EEA in which trial sites are planned")
            lines += tr["outside"]
            lines.append("E.8.7 Trial has a data monitoring committee: Yes")
        if tr["ended"]:
            lines.append("P. Date of the global end of the trial: 20%02d-11-30" % (12 + t % 13))
    lines.append("F.4.2.2 In the whole clinical trial: %d" % tr["enrollment"])
    lines += ["X.9 Free text padding line to approximate real record bulk: "
              "lorem ipsum registry filler %d %d" % (t, ms)] * 12
    return "\n".join(lines) + "\n"


def etl_corpus(path, seed, n_trials):
    """Write the dump to `path`; return (trials, expected)."""
    rng = random.Random(seed)
    trials = [_trial(rng, t) for t in range(1, n_trials + 1)]
    recs = [(t, ms) for t in range(n_trials) for ms in range(trials[t]["n_rec"])]
    rng.shuffle(recs)  # member-state records scatter across pages
    first = {}  # trial -> member-state index of its first record in file order
    page = 0
    with open(path, "w") as f:
        for i, (t, ms) in enumerate(recs):
            if i % PAGE == 0:
                page += 1
                f.write("### PAGE %d ####\n" % page)
            first.setdefault(t, ms)
            f.write(_record(trials[t], t + 1, ms))
    expected = {"bytes": os.path.getsize(path), "records": len(recs),
                "counts": {"trial": n_trials, "imp": 0, "sponsor": 0, "location": 0},
                "sample": {}}
    pick = set(rng.sample(range(n_trials), min(200, n_trials)))
    for t, tr in enumerate(trials):
        c = expected["counts"]
        c["imp"] += len(tr["drugs"])
        c["sponsor"] += min(tr["n_rec"], 2)
        locs = set(tr["countries"]) | set(tr["outside"])
        c["location"] += len(locs)
        tr["locations"] = locs
        status = tr["status"][first[t]].lower()
        done = "20%02d-11-30" % (12 + (t + 1) % 13) if tr["ended"] else None
        if done and status == "ongoing":
            status = "not ongoing"
        tr["overall_status"] = status
        if t in pick:
            expected["sample"][tr["id"]] = {
                "overall_status": status,
                "official_title": tr["title"],
                "sponsor_id": "proto-%d-%d" % (t + 1, first[t]),
                "condition": "chronic condition variant %d with complications" % tr["condition"],
                "enrollment": str(tr["enrollment"]),
                "completion_date": done,
                "placebo": int(any(tr["placebo"])),
            }
    return trials, expected


# --- search ---------------------------------------------------------------
# The request mix is synthetic and unverified: no record of how toexcel.py
# is used exists. Its templates are the two requests this repository
# itself names, plus one equality predicate per table, each with seeded
# values:
#   q37     q37_registry_search_export: trials not completed, with a
#           site in one country;
#   survey  the example query of SURVEY.md section 7.2: phase III trials
#           that are not ongoing;
#   trial, imp, sponsor, location   one condition, product, sponsor
#           name or country.
# Every template weighs the same: the stream cycles through all of them
# in seeded order.

def _templates(rng):
    c = rng.randrange(N_CONDITIONS)
    d = rng.randrange(N_DRUGS)
    s = rng.randrange(N_SPONSORS)
    open_in, country = rng.choice(COUNTRIES), rng.choice(COUNTRIES)
    return [
        ("q37", {"trial": "overall_status <> 'completed'", "location": "location = '%s'" % open_in},
         lambda tr: tr["overall_status"] != "completed" and open_in in tr["locations"]),
        ("survey", {"trial": "phase3 = 1 AND overall_status = 'not ongoing'"},
         lambda tr: tr["phase3"] and tr["overall_status"] == "not ongoing"),
        ("trial", {"trial": "condition = 'chronic condition variant %d with complications'" % c},
         lambda tr: tr["condition"] == c),
        ("imp", {"imp": "product = 'compound d%d'" % d},
         lambda tr: d in tr["drugs"]),
        ("sponsor", {"sponsor": "name = 'Sponsor Organisation %d'" % s},
         lambda tr: tr["sponsor"] == s),
        ("location", {"location": "location = '%s'" % country},
         lambda tr: country in tr["locations"]),
    ]


def search_stream(seed, trials, n):
    """`n` requests: [{"template": str, "where": {table: sql}, "hits": int}, ...]."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    while len(out) < n:
        batch = _templates(rng)
        rng.shuffle(batch)
        for name, where, pred in batch:
            out.append({"template": name, "where": where,
                        "hits": sum(1 for tr in trials if pred(tr))})
    return out[:n]


# --- board ------------------------------------------------------------------
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "blue cold hot large new old red small".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()


def _days_from(year, offsets):
    """Midnight timestamps `offsets` days after 1 January of `year`."""
    return (np.datetime64("%d-01-01" % year, "D") + offsets).astype("datetime64[us]")


def board_fixture(out_dir, seed=42, sf=0.1):
    """Write the ten fixture tables (sizes at sf=0.1: lineitem 600k rows)."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    n_cust, n_ord, n_line = int(150000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_part, n_supp = int(200000 * sf), int(10000 * sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [COLORS[a] + " " + THINGS[b] for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days_from(1995, g.integers(0, 2404, n_ord)),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okey = np.sort(g.integers(0, n_ord, n_line))
    same = np.concatenate([[False], okey[1:] == okey[:-1]])
    run_start = np.maximum.accumulate(np.where(~same, np.arange(n_line), 0))
    lnum = (np.arange(n_line) - run_start + 1).astype(np.int32)
    perm = g.permutation(n_line)
    write("lineitem", {
        "l_orderkey": okey[perm],
        "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line),
        "l_linenumber": lnum[perm],
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], n_line),
        "l_linestatus": g.choice(["F", "O"], n_line),
        "l_shipdate": _days_from(1995, g.integers(1, 2499, n_line))})
    n_ev = int(1000000 * sf)
    secs = np.sort(g.integers(0, 30 * 86400 * 1000000, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": g.integers(0, int(15000 * sf), n_ev),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in g.integers(0, 100, n_ev)]})
    n_doc = int(50000 * sf)
    texts = []
    for i in range(n_doc):
        if i > 50 and g.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(g.choice(WORDS, int(g.integers(10, 100)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["en", "en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": ["src%d" % s for s in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb = int(20000 * sf)
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + g.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    import sys
    board_fixture(sys.argv[1])
