"""Seeded input generators for the graft benchmark.

Every generator takes the seed as an argument and writes Parquet with
pyarrow; the same seed and size give byte-identical files. The program
under test only ever sees the files.

  warehouse(out, seed)  the 14 reference source tables (FIXTURES.md sec. 1
                        schemas) with Zipf partner/site/classroom sizes and
                        the FIXTURES.md sec. 3 edge cases mixed in
  tpch(out, seed)       TPC-H-shaped star schema for the BI query stream,
                        with the column layout of the engine's test data
  bi_stream(seed, n)    the seeded BigQuery-dialect query stream
  cdc(out, seed)        initial table + change batches with the op mix, hot
                        keys and out-of-order sequence numbers; returns the
                        live-row state the batches must produce
  corpus(out, seed)     documents with planted exact duplicates and
                        near-duplicate clusters
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes and skew parameters. They are echoed into each run's report and
# summarised in BENCHMARK.json's workload descriptions.
SIZES = {
    "warehouse_build": {"users": 2000, "zipf_s": 1.1, "partners": 12,
                        "classrooms": 120, "locales": 200},
    "bi_queries": {"customers": 3000, "orders": 30000, "lineitem_per_order": 4,
                   "parts": 4000, "suppliers": 200, "key_zipf_s": 1.1,
                   "lookup_share": 0.8},
    "cdc_upsert": {"rows": 60000, "batch_rows": 1000, "batches": 40,
                   "insert": 0.60, "update": 0.35, "delete": 0.05,
                   "hot_zipf_s": 1.1, "stale_share": 0.03,
                   # odd, so a traced run's alternating bare and traced
                   # ops both include compactions
                   "compact_every": 5},
    "curation_dedup": {"docs": 2000, "exact_dup_share": 0.05,
                       "near_dup_clusters": 50, "near_dup_cluster_max": 4,
                       "near_dup_edit_share": 0.04, "gate_reject_share": 0.05,
                       "recall_floor": 0.9},
}

def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _zipf_choice(rng, n, size, s):
    """Draw `size` indices in [0, n) with P(i) proportional to 1/(i+1)^s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _write(path, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# warehouse_build: the 14 reference sources


FIRST = ["Ann", "Bob", "Cal", "Dee", "Eve", "Fay", "Gil", "Hal", "Ivy", "Jon",
         "Kim", "Lea", "Max", "Nia", "Oto", "Pia", "Quy", "Rae", "Sol", "Tia"]
LAST = ["Lee", "Kim", "Rey", "Soto", "Wu", "Ona", "Diaz", "Park", "Shah", "Berg"]
RACE = [None, "White", "Hispanic or Latinx", "Black or African American",
        "South Asian", "East Asian", "Other", "Prefer not to say",
        "White, Other", "Native American or Alaska Native",
        "Native Hawaiian or other Pacific Islander", "White, Black or African American"]
GENDER = [None, "Man", "Woman", "Man, Woman", "Nonbinary",
          "Prefer to self-describe", "Prefer not to say"]
STREETS = ["Main St", "Oak Ave", "Elm Rd", "Pine Dr", "Birch Ln"]


def warehouse(out, seed):
    """Write the 14 source tables under `out`; return their row counts."""
    p = SIZES["warehouse_build"]
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 1)
    s = p["zipf_s"]
    L, S, V, B, T = pa.int64(), pa.string(), pa.float64(), pa.bool_(), pa.timestamp("us")

    # location hierarchy: countries(1) > states(7) > counties(8) > cities(3/4)
    locs = {"id": [], "display_name": [], "long_name": [], "latitude": [],
            "longitude": [], "slug": []}
    ltypes = {"location_id": [], "locationtype_id": []}
    llac = {"from_location_id": [], "to_location_id": []}
    next_id = [1]

    def add_loc(name, long_name, lat, lon, ltype):
        i = next_id[0]
        next_id[0] += 1
        locs["id"].append(i); locs["display_name"].append(name)
        locs["long_name"].append(long_name); locs["latitude"].append(lat)
        locs["longitude"].append(lon); locs["slug"].append(f"s{i}")
        if ltype is not None:
            ltypes["location_id"].append(i); ltypes["locationtype_id"].append(ltype)
        return i

    cities = []
    for c in range(4):
        clat, clon = float(rng.uniform(-40, 50)), float(rng.uniform(-120, 130))
        cid = add_loc(f"Country{c}", f"Country {c} Long", clat, clon, 1)
        for st in range(6):
            slat, slon = clat + float(rng.uniform(-5, 5)), clon + float(rng.uniform(-5, 5))
            # one state per country carries the country's long name (state = NULL path)
            sname = f"Country {c} Long" if st == 0 else f"State{c}_{st}"
            sid = add_loc(sname, sname, slat, slon, 7)
            for co in range(3):
                colat, colon = slat + float(rng.uniform(-1, 1)), slon + float(rng.uniform(-1, 1))
                coid = add_loc(f"County{c}_{st}_{co}", f"County {c}.{st}.{co}", colat, colon, 8)
                for ci in range(3):
                    lat = colat + float(rng.uniform(-0.3, 0.3))
                    lon = colon + float(rng.uniform(-0.3, 0.3))
                    nm = "Seoul" if (c, st, co, ci) == (0, 1, 0, 0) else f"City{c}_{st}_{co}_{ci}"
                    ciid = add_loc(nm, nm, lat, lon, 3 if ci % 2 == 0 else 4)
                    cities.append((ciid, coid, sid, cid, lat, lon))
    # a city that is itself a user locale (no components): Seoul special case
    seoul = [x for x in cities if locs["display_name"][x[0] - 1] == "Seoul"][0][0]

    locale_ids = [seoul]
    for k in range(p["locales"]):
        city = cities[int(rng.integers(len(cities)))]
        ciid, coid, sid, cid, lat, lon = city
        kind = int(rng.integers(10))
        if kind == 0:       # null lat/long locale
            la, lo = None, None
        elif kind <= 2:     # > 10 miles from any component city
            la, lo = lat + float(rng.uniform(0.4, 0.8)), lon + float(rng.uniform(0.4, 0.8))
        else:
            la, lo = lat + float(rng.uniform(-0.02, 0.02)), lon + float(rng.uniform(-0.02, 0.02))
        if k % 3 == 0:
            name = f"{int(rng.integers(1, 9999))} {STREETS[k % len(STREETS)]}"
        elif k % 7 == 0:
            name = f"Borough{k} County"
        else:
            name = f"Locale{k}"
        lid = add_loc(name, name, la, lo, None)
        locale_ids.append(lid)
        comps = [ciid, coid, sid, cid]
        if kind % 2 == 1:   # multiple type-3/4 components with distinct names
            sib = [x for x in cities if x[1] == coid and x[0] != ciid]
            comps.append(sib[int(rng.integers(len(sib)))][0])
        for to in comps:
            llac["from_location_id"].append(lid); llac["to_location_id"].append(to)

    n = p["users"]
    ids = np.arange(1, n + 1, dtype=np.int64)
    utype = rng.choice(np.array(["E", "CL", "IL"]), size=n, p=[0.08, 0.72, 0.20])
    fi = rng.integers(len(FIRST), size=n); la_ = rng.integers(len(LAST), size=n)
    first = [FIRST[i] for i in fi]
    last = [LAST[i] for i in la_]
    email = [f"{first[i].lower()}.{i + 1}@example.com" for i in range(n)]
    test_users = rng.random(n) < 0.01
    for i in np.nonzero(test_users)[0]:
        if i % 2:
            first[i] = "Te st"
        else:
            email[i] = f"qa test{i}@example.com"
    email[int(rng.integers(n))] = "educatorst1@example.com"
    race = [RACE[i] for i in rng.integers(len(RACE), size=n)]
    gender = [GENDER[i] for i in rng.integers(len(GENDER), size=n)]
    selfd = ["fluid" if g == "Prefer to self-describe" else None for g in gender]
    joined = (np.datetime64("2018-01-01T00:00:00", "us")
              + rng.integers(0, 7 * 365 * 86400, size=n).astype("timedelta64[s]"))
    bkind = rng.random(n)
    bmon = rng.integers(1, 13, size=n); byear = rng.integers(1950, 2015, size=n)
    birthday = []
    for i in range(n):
        if bkind[i] < 0.10:
            birthday.append(None)
        elif bkind[i] < 0.14:
            birthday.append("xx-abcd")
        elif bkind[i] < 0.18:   # month straddling the as-of date's month
            birthday.append(f"08-{byear[i]}")
        else:
            birthday.append(f"{bmon[i]:02d}-{byear[i]}")
    has_loc = rng.random(n) < 0.7
    loc_pick = _zipf_choice(rng, len(locale_ids), n, 0.8)
    location_id = [int(locale_ids[loc_pick[i]]) if has_loc[i] else None for i in range(n)]
    _write(f"{out}/user_user.parquet", {
        "id": ids, "uuid": [f"u{i}" for i in ids], "first_name": first,
        "last_name": last, "email": email, "type": utype.tolist(),
        "race_ethnicity": race, "gender": gender, "self_describe_gender": selfd,
        "date_joined": joined, "is_active": (rng.random(n) < 0.9),
        "is_staff": (rng.random(n) < 0.02), "birthday": birthday,
        "location_id": location_id,
    }, pa.schema([("id", L), ("uuid", S), ("first_name", S), ("last_name", S),
                  ("email", S), ("type", S), ("race_ethnicity", S), ("gender", S),
                  ("self_describe_gender", S), ("date_joined", T), ("is_active", B),
                  ("is_staff", B), ("birthday", S), ("location_id", L)]))

    # partners > sites > classrooms, Zipf-sized
    npart = p["partners"]
    part_ids = np.arange(1, npart + 1, dtype=np.int64) + 10_000
    nsite = npart * 8
    site_partner = part_ids[_zipf_choice(rng, npart, nsite, s)]
    site_ids = np.arange(1, nsite + 1, dtype=np.int64) + 20_000
    ncls = p["classrooms"]
    cls_site = site_ids[_zipf_choice(rng, nsite, ncls, s)]
    cls_ids = np.arange(1, ncls + 1, dtype=np.int64) + 30_000
    cls_site_opt = [None if rng.random() < 0.03 else int(x) for x in cls_site]
    site_of_cls = dict(zip(cls_ids.tolist(), cls_site_opt))
    _write(f"{out}/user_partner.parquet",
           {"id": part_ids, "name": [f"Partner {i}" for i in part_ids]},
           pa.schema([("id", L), ("name", S)]))
    _write(f"{out}/user_site.parquet",
           {"id": site_ids, "name": [f"Site {i}" for i in site_ids],
            "partner_id": site_partner},
           pa.schema([("id", L), ("name", S), ("partner_id", L)]))
    _write(f"{out}/educator_classroom.parquet",
           {"id": cls_ids, "site_id": cls_site_opt,
            "name": [f"Class {i}" for i in cls_ids]},
           pa.schema([("id", L), ("site_id", L), ("name", S)]))
    has_code = rng.random(ncls) < 0.9
    _write(f"{out}/educator_classroominvitecode.parquet",
           {"code": [f"CC{i}" for i in cls_ids[has_code]],
            "classroom_id": cls_ids[has_code]},
           pa.schema([("code", S), ("classroom_id", L)]))
    # partner invite codes: one per site, a second one on 10% of sites
    upic_site = np.concatenate([site_ids, site_ids[rng.random(nsite) < 0.1]])
    site_part = dict(zip(site_ids.tolist(), site_partner.tolist()))
    upic_ids = np.arange(1, len(upic_site) + 1, dtype=np.int64) + 40_000
    _write(f"{out}/user_partnerinvitecode.parquet",
           {"id": upic_ids, "code": [f"PC{i}" for i in upic_ids],
            "partner_id": [site_part[int(x)] for x in upic_site],
            "site_id": upic_site},
           pa.schema([("id", L), ("code", S), ("partner_id", L), ("site_id", L)]))

    # learners: one classroom each (Zipf); 4% join a second classroom of the
    # same site when the site has one, else another classroom
    learners = ids[utype == "CL"]
    lcls = cls_ids[_zipf_choice(rng, ncls, len(learners), s)]
    by_site = {}
    for c, st in site_of_cls.items():
        by_site.setdefault(st, []).append(c)
    m_user, m_cls = learners.tolist(), lcls.tolist()
    extra = np.nonzero(rng.random(len(learners)) < 0.04)[0]
    for i in extra:
        c = int(lcls[i])
        same = by_site.get(site_of_cls[c], [])
        alt = [x for x in same[:8] if x != c]
        m_user.append(int(learners[i]))
        m_cls.append(alt[0] if alt else int(cls_ids[int(rng.integers(ncls))]))
    _write(f"{out}/educator_classroomlearnermembership.parquet",
           {"user_id": m_user, "classroom_id": m_cls},
           pa.schema([("user_id", L), ("classroom_id", L)]))
    # educators (also some learners who teach): 1-2 classrooms
    edus = ids[utype == "E"]
    e_user, e_cls = [], []
    for u in edus.tolist() + learners[: max(1, len(learners) // 200)].tolist():
        for _ in range(1 + int(rng.random() < 0.3)):
            e_user.append(u); e_cls.append(int(cls_ids[int(rng.integers(ncls))]))
    _write(f"{out}/educator_classroom_educators.parquet",
           {"user_id": e_user, "classroom_id": e_cls},
           pa.schema([("user_id", L), ("classroom_id", L)]))
    # invitations matched by padded / mixed-case email; some target IL users
    inv = rng.choice(n, size=n // 20, replace=False)
    inv_email = []
    for j, i in enumerate(inv.tolist()):
        e = email[i]
        if j % 3 == 0:
            e = "  " + e.upper() + " "
        elif j % 3 == 1:
            e = e.capitalize() + " "
        inv_email.append(e)
    _write(f"{out}/educator_classroominvitation.parquet",
           {"email": inv_email,
            "classroom_id": cls_ids[_zipf_choice(rng, ncls, len(inv), s)]},
           pa.schema([("email", S), ("classroom_id", L)]))
    # join actions: 10% of users, a few with a non-'userjoins' type
    act = rng.choice(n, size=n // 10, replace=False)
    _write(f"{out}/action_userjoinsaction.parquet",
           {"user_id": ids[act],
            "partner_invite_code_id": upic_ids[rng.integers(len(upic_ids), size=len(act))],
            "action_type": np.where(rng.random(len(act)) < 0.9, "userjoins", "other").tolist()},
           pa.schema([("user_id", L), ("partner_invite_code_id", L), ("action_type", S)]))
    # widget keys: 3% of users one key, 0.5% two
    w1 = ids[rng.random(n) < 0.03]
    w2 = ids[rng.random(n) < 0.005]
    wu = np.concatenate([w1, w2, w2])
    _write(f"{out}/widget_widgetuserapikey.parquet",
           {"id": np.arange(1, len(wu) + 1, dtype=np.int64), "user_id": wu},
           pa.schema([("id", L), ("user_id", L)]))

    _write(f"{out}/location_location.parquet", locs,
           pa.schema([("id", L), ("display_name", S), ("long_name", S),
                      ("latitude", V), ("longitude", V), ("slug", S)]))
    _write(f"{out}/location_location_address_components.parquet", llac,
           pa.schema([("from_location_id", L), ("to_location_id", L)]))
    _write(f"{out}/location_location_types.parquet", ltypes,
           pa.schema([("location_id", L), ("locationtype_id", L)]))
    return {t[:-8]: pq.ParquetFile(f"{out}/{t}").metadata.num_rows
            for t in sorted(os.listdir(out)) if t.endswith(".parquet")}


# ---------------------------------------------------------------------------
# bi_queries: TPC-H-shaped tables + the query stream

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def tpch(out, seed):
    """Write region..lineitem plus small events/documents/embeddings
    tables (Tables.registerAll registers all nine)."""
    p = SIZES["bi_queries"]
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 2)
    I, L, S, V, T = pa.int32(), pa.int64(), pa.string(), pa.float64(), pa.timestamp("us")
    _write(f"{out}/region.parquet",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", I), ("r_name", S)]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": list(range(25)), "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", I), ("n_name", S), ("n_regionkey", I)]))
    nc, no, npt, ns = p["customers"], p["orders"], p["parts"], p["suppliers"]
    ck = np.arange(1, nc + 1, dtype=np.int64)
    _write(f"{out}/customer.parquet",
           {"c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(5, size=nc)]},
           pa.schema([("c_custkey", L), ("c_name", S), ("c_nationkey", I),
                      ("c_acctbal", V), ("c_mktsegment", S)]))
    sk = np.arange(1, ns + 1, dtype=np.int64)
    _write(f"{out}/supplier.parquet",
           {"s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, size=ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, size=ns), 2)},
           pa.schema([("s_suppkey", L), ("s_name", S), ("s_nationkey", I), ("s_acctbal", V)]))
    pk = np.arange(1, npt + 1, dtype=np.int64)
    _write(f"{out}/part.parquet",
           {"p_partkey": pk, "p_name": [f"part {i}" for i in pk],
            "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, size=npt)],
            "p_type": [f"TYPE{i}" for i in rng.integers(0, 150, size=npt)],
            "p_size": rng.integers(1, 51, size=npt).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, size=npt), 2)},
           pa.schema([("p_partkey", L), ("p_name", S), ("p_brand", S), ("p_type", S),
                      ("p_size", I), ("p_retailprice", V)]))
    ok = np.arange(1, no + 1, dtype=np.int64)
    odate = (np.datetime64("1992-01-01T00:00:00", "us")
             + rng.integers(0, 2400, size=no).astype("timedelta64[D]"))
    _write(f"{out}/orders.parquet",
           {"o_orderkey": ok, "o_custkey": ck[rng.integers(nc, size=no)],
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=no)],
            "o_totalprice": np.round(rng.uniform(1000, 400000, size=no), 2),
            "o_orderdate": odate,
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(5, size=no)]},
           pa.schema([("o_orderkey", L), ("o_custkey", L), ("o_orderstatus", S),
                      ("o_totalprice", V), ("o_orderdate", T), ("o_orderpriority", S)]))
    per = rng.integers(1, 2 * p["lineitem_per_order"], size=no)
    lok = np.repeat(ok, per)
    nl = len(lok)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    ship = np.repeat(odate, per) + rng.integers(1, 122, size=nl).astype("timedelta64[D]")
    _write(f"{out}/lineitem.parquet",
           {"l_orderkey": lok, "l_partkey": pk[rng.integers(npt, size=nl)],
            "l_suppkey": sk[rng.integers(ns, size=nl)], "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=nl), 2),
            "l_discount": rng.integers(0, 11, size=nl) / 100.0,
            "l_tax": rng.integers(0, 9, size=nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(3, size=nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=nl)],
            "l_shipdate": ship},
           pa.schema([("l_orderkey", L), ("l_partkey", L), ("l_suppkey", L),
                      ("l_linenumber", I), ("l_quantity", V), ("l_extendedprice", V),
                      ("l_discount", V), ("l_tax", V), ("l_returnflag", S),
                      ("l_linestatus", S), ("l_shipdate", T)]))
    ne = 1000
    _write(f"{out}/events.parquet",
           {"event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.arange(ne).astype("timedelta64[m]"),
            "user_id": rng.integers(1, 100, size=ne), "event_type": ["view"] * ne,
            "value": rng.random(ne), "props": ["{}"] * ne},
           pa.schema([("event_id", L), ("ts", T), ("user_id", L), ("event_type", S),
                      ("value", V), ("props", S)]))
    _write(f"{out}/documents.parquet",
           {"doc_id": np.arange(10, dtype=np.int64), "text": ["the doc"] * 10,
            "lang": ["en"] * 10, "source": ["web"] * 10, "n_chars": [7] * 10},
           pa.schema([("doc_id", L), ("text", S), ("lang", S), ("source", S),
                      ("n_chars", L)]))
    _write(f"{out}/embeddings.parquet",
           {"doc_id": np.arange(10, dtype=np.int64), "vec": [[0.0, 1.0]] * 10},
           pa.schema([("doc_id", L), ("vec", pa.list_(pa.float64()))]))
    return {"customer": nc, "orders": no, "lineitem": nl, "part": npt, "supplier": ns}


# BigQuery-dialect templates. Lookups read one or a few rows for a
# Zipf-popular customer key; reports scan, join and aggregate the fact
# tables. perfbench/oracle.py holds the DuckDB text of each template.
LOOKUPS = {
    "point": ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
              "WHERE c_custkey = {k}"),
    "history": ("SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority, "
                "DATE_DIFF(DATE '1998-08-02', CAST(o_orderdate AS DATE), day) AS age_days "
                "FROM orders WHERE o_custkey = {k} ORDER BY o_orderdate DESC, o_orderkey"),
    "top1": ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
             "WHERE o_custkey BETWEEN {k} AND {k} + 9 "
             "QUALIFY row_number() OVER (PARTITION BY o_custkey "
             "ORDER BY o_totalprice DESC, o_orderkey) = 1"),
}
REPORTS = {
    "pricing": ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "sum(l_quantity) AS qty, sum(l_extendedprice) AS base, "
                "sum(l_extendedprice * (1 - l_discount)) AS disc, "
                "COUNTIF(l_discount > 0.05) AS n_disc "
                "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' "
                "GROUP BY l_returnflag, l_linestatus"),
    "segment_revenue": ("SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders, "
                        "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
                        "SAFE_DIVIDE(sum(l_extendedprice), count(*)) AS avg_price "
                        "FROM customer JOIN orders ON c_custkey = o_custkey "
                        "JOIN lineitem ON l_orderkey = o_orderkey "
                        "WHERE c_mktsegment = '{seg}' AND o_orderdate < TIMESTAMP '{d}' "
                        "GROUP BY o_orderpriority"),
    "region_revenue": ("SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
                       "FROM customer JOIN orders ON c_custkey = o_custkey "
                       "JOIN lineitem ON l_orderkey = o_orderkey "
                       "JOIN supplier ON l_suppkey = s_suppkey "
                       "JOIN nation ON s_nationkey = n_nationkey "
                       "JOIN region ON n_regionkey = r_regionkey "
                       "WHERE r_name = '{region}' AND EXTRACT(YEAR FROM o_orderdate) = {year} "
                       "GROUP BY n_name"),
}


def _params(rng, kind, perm, key):
    if kind == "lookup":
        return {"k": int(perm[key])}
    return {"d": f"199{int(rng.integers(5, 9))}-{int(rng.integers(1, 13)):02d}-01 00:00:00",
            "seg": SEGMENTS[int(rng.integers(5))],
            "region": REGIONS[int(rng.integers(5))],
            "year": int(rng.integers(1992, 1998))}


def bi_stream(seed, n, stream=3):
    """The seeded query stream: list of {id, kind, template, params, sql}."""
    p = SIZES["bi_queries"]
    rng = _rng(seed, stream)
    keys = _zipf_choice(rng, p["customers"], n, p["key_zipf_s"])
    # a seeded permutation decides which customers are popular
    perm = rng.permutation(p["customers"]) + 1
    out = []
    lk, rp = sorted(LOOKUPS), sorted(REPORTS)
    every = round(1 / (1 - p["lookup_share"]))
    for i in range(n):
        # a fixed interleave of kinds and templates, so every stretch of
        # the stream has the same mix; keys and parameters are seeded
        kind = "report" if i % every == every - 1 else "lookup"
        t = rp[(i // every) % len(rp)] if kind == "report" else lk[i % len(lk)]
        prm = _params(rng, kind, perm, keys[i])
        sql = (LOOKUPS if kind == "lookup" else REPORTS)[t].format(**prm)
        out.append({"id": i, "kind": kind, "template": t, "params": prm, "sql": sql})
    return out


def bi_warmup():
    """The warm-up pass: every template once."""
    rng = _rng(0, 6)
    perm = np.arange(1, 11)
    out = []
    for kind, ts in (("lookup", LOOKUPS), ("report", REPORTS)):
        for t in sorted(ts):
            out.append({"kind": kind, "template": t,
                        "sql": ts[t].format(**_params(rng, kind, perm, 0))})
    return out


# ---------------------------------------------------------------------------
# cdc_upsert: initial table, change batches, expected live state


def _cdc_schema(with_op):
    f = [("k", pa.int64()), ("v", pa.int64()), ("name", pa.string())]
    if with_op:
        f += [("op", pa.string()), ("seq", pa.int64())]
    return pa.schema(f)


def _row_bytes(v):
    # logical size of a live row: k and v as 8 bytes each plus the name
    return 16 + len(f"n{v % 997}")


def cdc(out, seed):
    """Write initial.parquet, batch_NNNN.parquet, reads.tsv (batch, key to
    read back, compaction horizon) and compact_every.txt under `out`.
    Returns the expected state after each batch: the read key's live row
    (None when deleted), the live-table count and sum of v, and the
    logical bytes of the live rows.

    Sequence numbers are multiples of 10; an out-of-order change for a
    key carries its current seq - 1, so the guarded fold must drop it.
    Changes only touch live keys or fresh keys, never a deleted one, so
    tombstone compaction at the current max seq never changes the live
    view."""
    p = SIZES["cdc_upsert"]
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 4)
    n0 = p["rows"]
    keys0 = np.arange(1, n0 + 1, dtype=np.int64)
    v0 = rng.integers(0, 1_000_000, size=n0)
    seqs0 = keys0 * 10
    _write(f"{out}/initial.parquet",
           {"k": keys0, "v": v0, "name": [f"n{int(x) % 997}" for x in v0],
            "op": ["I"] * n0, "seq": seqs0},
           _cdc_schema(True))
    state_v = dict(zip(keys0.tolist(), v0.tolist()))
    state_seq = dict(zip(keys0.tolist(), seqs0.tolist()))
    seq = int(seqs0[-1]) + 10
    live = list(keys0.tolist())     # deleted keys are swapped out
    pos = {k: i for i, k in enumerate(live)}
    total = int(v0.sum())
    live_bytes = sum(_row_bytes(v) for v in v0.tolist())
    next_key = n0 + 1
    expected, reads = [], []
    nb, bs = p["batches"], p["batch_rows"]
    hot_w = 1.0 / np.arange(1, 5001, dtype=np.float64) ** p["hot_zipf_s"]
    hot_w /= hot_w.sum()
    for b in range(nb):
        rows = {"k": [], "v": [], "name": [], "op": [], "seq": []}

        def emit(k, v, op, s_):
            rows["k"].append(k); rows["v"].append(v); rows["name"].append(f"n{v % 997}")
            rows["op"].append(op); rows["seq"].append(s_)

        kinds = rng.choice(3, size=bs, p=[p["insert"], p["update"], p["delete"]])
        stale = rng.random(bs) < p["stale_share"]
        hot = rng.choice(5000, size=bs, p=hot_w)
        touched, stale_done = [], set()
        for j in range(bs):
            v = int(rng.integers(0, 1_000_000))
            # hot keys: Zipf over a stride through the live list
            k = live[int(hot[j]) * 7919 % len(live)]
            if stale[j] and k not in stale_done:
                # a late re-delivery: older seq than what the key holds
                stale_done.add(k)
                emit(k, v, "U", state_seq[k] - 1)
                continue
            if kinds[j] == 0:
                k = next_key
                next_key += 1
                emit(k, v, "I", seq)
                state_v[k] = v; state_seq[k] = seq; seq += 10
                pos[k] = len(live); live.append(k)
                total += v; live_bytes += _row_bytes(v)
                touched.append(k)
                continue
            if kinds[j] == 1:
                emit(k, v, "U", seq)
                total += v - state_v[k]
                live_bytes += _row_bytes(v) - _row_bytes(state_v[k])
                state_v[k] = v; state_seq[k] = seq; seq += 10
            else:
                emit(k, state_v[k], "D", seq)
                seq += 10
                old = state_v.pop(k); state_seq.pop(k)
                total -= old; live_bytes -= _row_bytes(old)
                i = pos.pop(k); last = live.pop()
                if last != k:
                    live[i] = last; pos[last] = i
            touched.append(k)
        _write(f"{out}/batch_{b:04d}.parquet", rows, _cdc_schema(True))
        rk = touched[int(rng.integers(len(touched)))]
        expected.append({
            "row": ([rk, state_v[rk], f"n{state_v[rk] % 997}"] if rk in state_v else None),
            "count": len(live), "sum_v": total, "live_bytes": live_bytes})
        reads.append(f"{b}\t{rk}\t{seq}")
    with open(f"{out}/reads.tsv", "w") as f:
        f.write("\n".join(reads) + "\n")
    with open(f"{out}/compact_every.txt", "w") as f:
        f.write(f"{p['compact_every']}\n")
    return expected


# ---------------------------------------------------------------------------
# curation_dedup: corpus with planted duplicates


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnoprstuvwy"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=ln)))
    return sorted(words)


STOP = ["the", "of", "and", "is", "to", "in", "that"]


def corpus(out, seed):
    """Write docs.parquet (doc_id, text) and truth.json with the planted
    structure: exact-duplicate groups (ids), near-duplicate clusters (ids)
    and the ids planted to fail the quality gate."""
    p = SIZES["curation_dedup"]
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 5)
    vocab = _vocab(rng, 20000)
    vw = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    vw /= vw.sum()
    n = p["docs"]

    def doc_tokens():
        ln = int(rng.integers(60, 160))
        toks = [vocab[i] for i in rng.choice(len(vocab), size=ln, p=vw)]
        for j in range(0, ln, 7):
            toks[j] = STOP[int(rng.integers(len(STOP)))]
        return toks

    def render(toks):
        out_, j = [], 0
        for t in toks:
            j += 1
            out_.append(t + ("." if j % 15 == 0 else ""))
        s = " ".join(out_)
        return s[0].upper() + s[1:]

    texts = []
    truth = {"exact_groups": [], "near_clusters": [], "gate_rejects": []}
    n_bad = int(n * p["gate_reject_share"])
    n_exact = int(n * p["exact_dup_share"])
    n_clusters = p["near_dup_clusters"]
    # base docs first, then planted derivatives appended, then shuffled ids
    while len(texts) < n - n_bad - n_exact - n_clusters * (p["near_dup_cluster_max"] - 1):
        texts.append(render(doc_tokens()))
    base_n = len(texts)
    # near-duplicate clusters: a base doc plus 1..max-1 edited copies
    for c in range(n_clusters):
        b = int(rng.integers(base_n))
        while any(b in cl for cl in truth["near_clusters"]):
            b = int(rng.integers(base_n))
        toks = texts[b].lower().replace(".", "").split()
        members = [b]
        for _ in range(int(rng.integers(1, p["near_dup_cluster_max"]))):
            t2 = list(toks)
            for j in rng.choice(len(t2), size=max(1, int(len(t2) * p["near_dup_edit_share"])),
                                replace=False):
                t2[int(j)] = vocab[int(rng.integers(len(vocab)))]
            members.append(len(texts))
            texts.append(render(t2))
        truth["near_clusters"].append(members)
    # exact duplicates: case / whitespace variants of distinct base docs
    # that are in no near-duplicate cluster
    in_cluster = {m for cl in truth["near_clusters"] for m in cl}
    groups = {}
    for _ in range(n_exact):
        b = int(rng.integers(base_n))
        while b in in_cluster:
            b = int(rng.integers(base_n))
        t = texts[b]
        v = t.upper() if rng.random() < 0.5 else "  " + t.replace(" ", "   ") + "\n"
        groups.setdefault(b, [b]).append(len(texts))
        texts.append(v)
    truth["exact_groups"] = list(groups.values())
    # gate rejects: too short, or symbol-heavy
    for j in range(n_bad):
        if j % 2 == 0:
            t = " ".join(vocab[int(i)] for i in rng.integers(len(vocab), size=12))
        else:
            t = " ".join(vocab[int(i)] + "!;" for i in rng.integers(len(vocab), size=80))
        truth["gate_rejects"].append(len(texts))
        texts.append(t)
    # shuffle ids so planted copies are not adjacent
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(1, len(texts) + 1)
    ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    ordered = [None] * len(texts)
    for old, t in enumerate(texts):
        ordered[new_id[old] - 1] = t
    remap = lambda xs: sorted(int(new_id[x]) for x in xs)
    truth = {"exact_groups": sorted(remap(g) for g in truth["exact_groups"]),
             "near_clusters": sorted(remap(c) for c in truth["near_clusters"]),
             "gate_rejects": remap(truth["gate_rejects"]),
             "recall_floor": p["recall_floor"]}
    _write(f"{out}/docs.parquet", {"doc_id": ids, "text": ordered},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {"docs": len(texts), "exact_copies": sum(len(g) - 1 for g in truth["exact_groups"]),
            "near_clusters": len(truth["near_clusters"]), "gate_rejects": n_bad}


GENERATORS = {
    "warehouse_build": warehouse,
    "bi_queries": tpch,
    "cdc_upsert": cdc,
    "curation_dedup": corpus,
}
