"""STAC request generation, DuckDB oracle and response checks.

`generate` turns a seed and a fixture into the request lists the JVM
sends (warm-up, open loop, closed loop), each request carrying its
expected outcome. `check` compares the recorded responses against those
expectations. The oracle restates graft's STAC items view and search
semantics in DuckDB SQL, independently of the engine: datetime forms as
in the a5/a6/a7 gates, the bbox test of a8, sorting as in a16 (Spark's
null ordering made explicit), and `id` as the final tiebreak.
"""
import json
import random
import urllib.parse

import duckdb

COLLECTIONS = ["click", "error", "purchase", "signup", "view"]

ITEMS_SQL = """
CREATE TABLE items AS
SELECT CAST(event_id AS VARCHAR) AS id,
       event_id AS id_num,
       event_type AS collection,
       CASE WHEN event_id % 7 = 0 THEN NULL ELSE ts END AS datetime,
       CASE WHEN event_id % 7 = 0 THEN ts - INTERVAL 1 HOUR END AS start_datetime,
       CASE WHEN event_id % 7 = 0 THEN ts + INTERVAL 1 HOUR END AS end_datetime,
       value % 360.0 - 180.0 AS lon,
       CAST(((event_id * 13 + user_id) % 180) - 90 AS DOUBLE) AS lat,
       value, user_id, props
FROM read_parquet('{path}')
"""


def connect(events_path):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(ITEMS_SQL.format(path=events_path))
    return con


# ------------------------------------------------------------- predicates
def _ts(t):
    return f"TIMESTAMP '{t.replace('T', ' ').rstrip('Z')}'"


def datetime_sql(dt):
    parts = dt.split("/")
    if len(parts) == 1:
        t = _ts(parts[0])
        return (f"(datetime = {t} OR (datetime IS NULL AND start_datetime <= {t} "
                f"AND end_datetime >= {t}))")
    a, b = parts
    if b == "..":
        return f"(datetime >= {_ts(a)} OR (datetime IS NULL AND end_datetime >= {_ts(a)}))"
    if a == "..":
        return f"(datetime <= {_ts(b)} OR (datetime IS NULL AND start_datetime <= {_ts(b)}))"
    return (f"((datetime >= {_ts(a)} AND datetime <= {_ts(b)}) OR (datetime IS NULL "
            f"AND start_datetime <= {_ts(b)} AND end_datetime >= {_ts(a)}))")


def where_sql(p):
    conds = []
    if p.get("collections"):
        conds.append("collection IN (%s)" % ", ".join(f"'{c}'" for c in p["collections"]))
    if p.get("ids"):
        conds.append("id IN (%s)" % ", ".join(f"'{i}'" for i in p["ids"]))
    if p.get("bbox"):
        w, s, e, n = p["bbox"]
        conds.append(f"(lon >= {w} AND lon <= {e} AND lat >= {s} AND lat <= {n})")
    if p.get("datetime"):
        conds.append(datetime_sql(p["datetime"]))
    if p.get("cmp"):
        (vop, v), (uop, u) = p["cmp"]
        conds.append(f"(value {vop} {v} AND user_id {uop} {u})")
    return " AND ".join(conds) if conds else "TRUE"


def order_sql(p):
    keys = []
    for s in p.get("sortby", []):
        # Spark orders NULLs first ascending and last descending
        keys.append(f"{s['field']} {'DESC NULLS LAST' if s.get('desc') else 'ASC NULLS FIRST'}")
    return ", ".join(keys + ["id ASC"])


# --------------------------------------------------------------- requests
def _cql_text(cmp):
    (vop, v), (uop, u) = cmp
    return f"value {vop} {v} AND user_id {uop} {u}"


def _cql_json(cmp):
    (vop, v), (uop, u) = cmp
    return {"op": "and", "args": [
        {"op": vop, "args": [{"property": "value"}, v]},
        {"op": uop, "args": [{"property": "user_id"}, u]}]}


class Generator:
    """Deterministic request generator over one fixture."""

    def __init__(self, con, seed, write_collection):
        self.con = con
        self.rng = random.Random(seed)
        self.seed = seed
        self.write_collection = write_collection
        self.times = [r[0] for r in con.execute(
            "SELECT strftime(datetime, '%Y-%m-%dT%H:%M:%S.%fZ') FROM items "
            "WHERE datetime IS NOT NULL ORDER BY id_num").fetchall()]
        self.ids = con.execute(
            "SELECT id, collection FROM items ORDER BY id_num").fetchall()
        self.chains = 0
        self.walks = 0

    # -- search parameters -------------------------------------------------
    def _day(self):
        return f"2024-01-{self.rng.randint(1, 30):02d}"

    def search_params(self, shape):
        """Values for one search of a fixed shape: which predicates, sort,
        fields, page size and how many collections are set by the shape;
        the seed draws only the values."""
        r = self.rng
        p = {"collections": sorted(r.sample(COLLECTIONS, shape["ncoll"])),
             "limit": shape["limit"], "sortby": shape.get("sortby", [])}
        if "include" in shape:
            p["include"] = shape["include"]
        preds = shape["preds"]
        if "bbox" in preds:
            w = round(r.uniform(-180, -60), 1)
            s = round(r.uniform(-90, 10), 1)
            p["bbox"] = [w, s, round(w + r.uniform(40, 180), 1), round(s + r.uniform(40, 100), 1)]
        if "exact" in preds:
            p["datetime"] = r.choice(self.times)
        if "range" in preds:
            a, b = sorted([self._day(), self._day()])
            p["datetime"] = f"{a}T00:00:00Z/{b}T23:59:59Z"
        if "open" in preds:
            # at least 6 of the 30 days, so that every page fills
            d = f"2024-01-{r.randint(6, 25):02d}"
            p["datetime"] = r.choice([f"{d}T00:00:00Z/..", f"../{d}T23:59:59Z"])
        if "cmp" in preds:
            p["cmp"] = [[r.choice([">", ">="]), round(r.uniform(1, 120), 2)],
                        [r.choice(["<", "<="]), r.randint(100, 1500)]]
        return p

    def expected_search(self, p, pages):
        where = where_sql(p)
        n = self.con.execute(f"SELECT count(*) FROM items WHERE {where}").fetchone()[0]
        ids = [r[0] for r in self.con.execute(
            f"SELECT id FROM items WHERE {where} ORDER BY {order_sql(p)} "
            f"LIMIT {p['limit'] * pages}").fetchall()]
        return {"matched": n, "ids": ids}

    def search_op(self, shape):
        p = self.search_params(shape)
        limit, pages, post = p["limit"], shape.get("pages", 1), shape["post"]
        params = {k: v for k, v in p.items() if k not in ("cmp",)}
        if post:
            body = {"collections": p["collections"], "limit": limit}
            for k in ("bbox", "datetime"):
                if k in p:
                    body[k] = p[k]
            if "cmp" in p:
                body["filter"] = _cql_json(p["cmp"])
                body["filter-lang"] = "cql2-json"
            if p["sortby"]:
                body["sortby"] = [{"field": s["field"], "direction": "desc" if s.get("desc") else "asc"}
                                  for s in p["sortby"]]
            if "include" in p:
                body["fields"] = {"include": p["include"]}
            op = {"route": "search_post" if pages == 1 else "search_walk_post", "method": "POST",
                  "path": "/search", "body": json.dumps(body, sort_keys=True)}
        else:
            q = [("collections", ",".join(p["collections"])), ("limit", str(limit))]
            if "bbox" in p:
                q.append(("bbox", ",".join(str(x) for x in p["bbox"])))
            if "datetime" in p:
                q.append(("datetime", p["datetime"]))
            if "cmp" in p:
                params["filter_text"] = _cql_text(p["cmp"])
                q.append(("filter", params["filter_text"]))
            if p["sortby"]:
                q.append(("sortby", ",".join(("-" if s.get("desc") else "+") + s["field"]
                                             for s in p["sortby"])))
            if "include" in p:
                q.append(("fields", ",".join(p["include"])))
            op = {"route": "search_get" if pages == 1 else "search_walk_get", "method": "GET",
                  "path": "/search?" + urllib.parse.urlencode(q, quote_via=urllib.parse.quote)}
        op.update(pages=pages, params=params, expect=self.expected_search(p, pages))
        return op

    # -- other reads ---------------------------------------------------------
    def item_op(self):
        i, c = self.rng.choice(self.ids)
        return {"route": "item", "method": "GET", "path": f"/collections/{c}/items/{i}",
                "params": {"collections": [c], "ids": [i]},
                "expect": {"status": 200, "id": i, "collection": c}}

    def aggregate_op(self):
        r = self.rng
        cols = sorted(r.sample(COLLECTIONS, 3))
        a = r.randint(1, 21)
        dt = f"2024-01-{a:02d}T00:00:00Z/2024-01-{a + 9:02d}T23:59:59Z"
        names = ["total_count", "collection_frequency", "datetime_frequency", "value_stats"]
        q = urllib.parse.urlencode([("collections", ",".join(cols)), ("datetime", dt),
                                    ("aggregations", ",".join(names))])
        where = where_sql({"collections": cols, "datetime": dt})
        total, vmin, vmax, vsum = self.con.execute(
            f"SELECT count(*), min(value), max(value), sum(value) FROM items WHERE {where}").fetchone()
        coll = self.con.execute(
            f"SELECT collection, count(*) FROM items WHERE {where} GROUP BY 1 ORDER BY 1").fetchall()
        month = self.con.execute(
            "SELECT coalesce(strftime(date_trunc('month', coalesce(datetime, start_datetime)), "
            f"'%Y-%m'), '__none__') m, count(*) FROM items WHERE {where} GROUP BY 1 ORDER BY 1").fetchall()
        return {"route": "aggregate", "method": "GET", "path": f"/aggregate?{q}",
                "params": {"collections": cols, "datetime": dt, "names": names},
                "expect": {"total_count": total, "collection_frequency": coll,
                           "datetime_frequency": month, "min": vmin, "max": vmax, "sum": vsum}}

    def collections_op(self):
        ids = sorted(COLLECTIONS + ([self.write_collection] if self.write_collection else []))
        return {"route": "collections", "method": "GET", "path": "/collections",
                "params": {}, "expect": {"ids": ids}}

    # Reads follow a fixed cycle of request shapes; only their values are
    # drawn from the seed. Every run then offers the same mix and the same
    # kinds of work, so seed-to-seed differences measure the engine and not
    # the draw.
    SEARCH = {
        "get_bbox_range": dict(post=False, limit=10, ncoll=3, preds=["bbox", "range"]),
        "post_cql": dict(post=True, limit=10, ncoll=2, preds=["cmp"],
                         sortby=[{"field": "value", "desc": True}]),
        "walk": dict(limit=25, ncoll=4, preds=["open"], sortby=[{"field": "datetime"}],
                     pages=3),
        "get_large": dict(post=False, limit=500, ncoll=4, preds=["open"],
                          include=["properties.value"]),
        "post_exact": dict(post=True, limit=10, ncoll=5, preds=["exact"],
                           sortby=[{"field": "datetime", "desc": True}]),
        "get_cql_bbox": dict(post=False, limit=10, ncoll=1, preds=["cmp", "bbox"],
                             sortby=[{"field": "value"}], include=["properties.value"]),
    }
    READ_CYCLE = ["get_bbox_range", "item", "post_cql", "walk", "get_large",
                  "aggregate", "post_exact", "item", "get_cql_bbox", "collections"]
    # the traced run sends each shape once
    TRACE_CYCLE = ["get_bbox_range", "post_cql", "walk", "get_large", "post_exact",
                   "get_cql_bbox", "item", "aggregate", "collections"]

    def read_op(self, k):
        if k in self.SEARCH:
            shape = self.SEARCH[k]
            if k == "walk":
                # walks alternate between GET links and POST bodies
                self.walks += 1
                shape = dict(shape, post=self.walks % 2 == 0)
            return self.search_op(shape)
        return {"item": self.item_op, "aggregate": self.aggregate_op,
                "collections": self.collections_op}[k]()

    # -- transactions --------------------------------------------------------
    def write_chain(self):
        """POST, read it back, PATCH, search for it, DELETE, 404."""
        c, r = self.write_collection, self.rng
        self.chains += 1
        item = f"w{self.seed}-{self.chains}"
        v0, v1 = round(r.uniform(1, 500), 2), round(r.uniform(1, 500), 2)
        feature = {"type": "Feature", "id": item,
                   "geometry": {"type": "Point", "coordinates": [round(r.uniform(-170, 170), 3),
                                                                  round(r.uniform(-80, 80), 3)]},
                   "properties": {"datetime": r.choice(self.times).rstrip("Z"),
                                  "value": v0, "user_id": r.randint(0, 1000)}}
        ref = {"collection": c, "id": item}
        path = f"/collections/{c}/items"
        look = {"route": "raw_item", "method": "GET", "path": f"{path}/{item}",
                "params": {"collections": [c], "ids": [item]}}
        find = {"route": "raw_search", "method": "POST", "path": "/search",
                "body": json.dumps({"collections": [c], "ids": [item]}),
                "params": {"collections": [c], "ids": [item]}}
        return [
            {"route": "write_post", "method": "POST", "path": path,
             "body": json.dumps(feature, sort_keys=True), "params": ref,
             "expect": {"status": 201, "id": item}},
            dict(look, expect={"status": 200, "id": item, "collection": c, "value": v0}),
            {"route": "write_patch", "method": "PATCH", "path": f"{path}/{item}",
             "body": json.dumps({"properties": {"value": v1}}), "params": ref,
             "expect": {"status": 200, "id": item}},
            dict(find, expect={"matched": 1, "ids": [item], "values": [v1]}),
            {"route": "write_delete", "method": "DELETE", "path": f"{path}/{item}",
             "params": ref, "expect": {"status": 204}},
            dict(look, expect={"status": 404}),
        ]

    # With writes, every CHAIN_PERIOD slots start one write chain whose six
    # steps take every second slot: 3 writes in 15 slots is one request in
    # five, and each step waits for the previous one to complete.
    CHAIN_PERIOD = 15

    def stream(self, n, writes, start=0):
        """`n` requests numbered from `start`."""
        out, chain, reads = [], None, 0
        for slot in range(n):
            pos = slot % self.CHAIN_PERIOD
            if writes and pos % 2 == 0 and pos // 2 < 6:
                if pos == 0:
                    chain = self.write_chain()
                op = chain[pos // 2]
                op["dep"] = start + slot - 2 if pos else -1
            else:
                op = self.read_op(self.READ_CYCLE[reads % len(self.READ_CYCLE)])
                op["dep"] = -1
                reads += 1
            op["i"] = start + slot
            out.append(op)
        return out


def generate(con, seed, stac_cfg, phase_s, closed_n, traced=False):
    """Request lists for one run: warm-up; a read-only open loop; a
    read-only closed loop; an open loop with writes. The traced run sends
    one request of each read shape, then one write chain, one at a time."""
    wc = stac_cfg["write_collection"]
    rate = stac_cfg["rate_rps"]
    gen = Generator(con, seed, wc)
    warm_gen = Generator(con, seed + 1_000_003, wc)
    warm = [warm_gen.read_op(k) for k in ("get_bbox_range", "post_cql", "item",
                                          "aggregate", "collections")]
    for k, op in enumerate(warm):
        op.update(i=k, dep=-1)
    if traced:
        reads = [dict(gen.read_op(k), i=k_i, dep=-1)
                 for k_i, k in enumerate(Generator.TRACE_CYCLE)]
        writes = [dict(op, i=len(reads) + k, dep=len(reads) + k - 1 if k else -1)
                  for k, op in enumerate(gen.write_chain())]
        return {"warm": warm, "open": reads, "closed": [], "open_rw": writes,
                "write_collection": wc}
    n = int(rate * phase_s)
    reads = gen.stream(n, False)
    closed = gen.stream(closed_n, False)
    writes = gen.stream(n, True, start=n)
    for phase in (reads, writes):
        for k, op in enumerate(phase):
            op["due"] = round(k / rate, 6)
    return {"warm": warm, "open": reads, "closed": closed, "open_rw": writes,
            "write_collection": wc}


# ----------------------------------------------------------------- checks
def check_op(op, recs):
    """None when the op's responses match its expectation, else a reason."""
    e = op["expect"]
    route = op["route"]
    if not recs:
        return "no response"
    for r in recs:
        if r.get("status") == -1:
            return f"transport error: {r.get('err')}"
    if route.startswith("search") or route == "raw_search":
        if any(r.get("status") != 200 for r in recs):
            return f"status {[r.get('status') for r in recs]}"
        if any(r.get("matched") != e["matched"] for r in recs):
            return f"numberMatched {[r.get('matched') for r in recs]} != {e['matched']}"
        ids = [i for r in sorted(recs, key=lambda r: r["page"]) for i in r.get("ids", [])]
        want = e["ids"]
        if ids != want:
            return f"ids differ at {next((k for k, (a, b) in enumerate(zip(ids, want)) if a != b), min(len(ids), len(want)))} (got {len(ids)}, want {len(want)})"
        if len(set(ids)) != len(ids):
            return "duplicate ids across pages"
        if "values" in e and [float(v) for v in recs[0].get("values", [])] != e["values"]:
            return f"values {recs[0].get('values')} != {e['values']}"
        return None
    r = recs[0]
    if route in ("item", "raw_item"):
        if r.get("status") != e["status"]:
            return f"status {r.get('status')} != {e['status']}"
        if e["status"] == 200:
            if r.get("id") != e["id"] or r.get("collection") != e["collection"]:
                return f"item {r.get('collection')}/{r.get('id')} != {e['collection']}/{e['id']}"
            if "value" in e and r.get("value") != e["value"]:
                return f"value {r.get('value')} != {e['value']}"
        return None
    if route == "collections":
        if r.get("status") != 200 or sorted(r.get("ids", [])) != e["ids"]:
            return f"collections {r.get('ids')} != {e['ids']}"
        return None
    if route == "aggregate":
        if r.get("status") != 200:
            return f"status {r.get('status')}"
        aggs = {a["name"]: a for a in r.get("aggregations", [])}
        if aggs.get("total_count", {}).get("value") != e["total_count"]:
            return "total_count"
        for name in ("collection_frequency", "datetime_frequency"):
            got = [[b["key"], b["frequency"]] for b in aggs.get(name, {}).get("buckets", [])]
            if got != [list(x) for x in e[name]]:
                return f"{name} {got} != {e[name]}"
        vs = aggs.get("value_stats", {})
        if vs.get("overall_min") != e["min"] or vs.get("overall_max") != e["max"]:
            return "value_stats min/max"
        if e["sum"] is not None and abs(vs.get("overall_sum", 0) - e["sum"]) > 1e-9 * abs(e["sum"]):
            return "value_stats sum"
        return None
    if route.startswith("write"):
        if r.get("status") != e["status"]:
            return f"status {r.get('status')} != {e['status']}"
        if "id" in e and r.get("id") != e["id"]:
            return f"id {r.get('id')} != {e['id']}"
        return None
    return f"unknown route {route}"


def check(ops, recs):
    """(attempted, ids of failed ops, reasons) over every op that was sent."""
    by_op = {}
    for r in recs:
        by_op.setdefault(r["i"], []).append(r)
    attempted, failed, reasons = 0, set(), []
    for op in ops:
        got = by_op.get(op["i"])
        if not got:
            continue
        attempted += 1
        why = check_op(op, got)
        if why:
            failed.add(op["i"])
            reasons.append(f"{op['route']} #{op['i']}: {why}")
    return attempted, failed, reasons
