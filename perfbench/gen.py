"""Seeded inputs and expected answers for the perfbench workloads.

Everything here runs before the program is started and is never timed:

* `ensure_tpch` writes the TPC-H tables the graph is derived from (DuckDB's
  built-in `dbgen`, deterministic for a scale factor) as parquet, with the
  column types `graft.sources.TpchGraph` reads.
* `request_stream` and `refresh_plan` draw seeded request streams and
  KGX deltas; each request's expected answer comes from the raw TPC-H
  tables through closed-form SQL rules (the same rules `TpchGraph.oracle`
  states for the fixed query keys), in DuckDB — an engine independent of
  the program under test.

An expected answer is a set of answer keys, shipped as (count, hash-sum):
the count of keys and the wrapping 64-bit sum of each key's hash (the
first 8 bytes of its MD5, little-endian). The harness computes the same
pair from what the program returned.
"""

import hashlib
import json
import os
import random

import duckdb
import pyarrow as pa

NATIONS = 25
REGIONS = 5
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LOCATED_IN = "graft:located_in"

TPCH_SQL = {
    "region": "SELECT CAST(r_regionkey AS INTEGER) r_regionkey, r_name FROM region",
    "nation": "SELECT CAST(n_nationkey AS INTEGER) n_nationkey, n_name, "
              "CAST(n_regionkey AS INTEGER) n_regionkey FROM nation",
    "customer": "SELECT CAST(c_custkey AS BIGINT) c_custkey, c_name, "
                "CAST(c_nationkey AS INTEGER) c_nationkey, CAST(c_acctbal AS DOUBLE) c_acctbal, "
                "c_mktsegment FROM customer",
    "supplier": "SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name, "
                "CAST(s_nationkey AS INTEGER) s_nationkey, CAST(s_acctbal AS DOUBLE) s_acctbal "
                "FROM supplier",
    "part": "SELECT CAST(p_partkey AS BIGINT) p_partkey, p_name, p_brand, p_type, "
            "CAST(p_size AS INTEGER) p_size, CAST(p_retailprice AS DOUBLE) p_retailprice FROM part",
    "orders": "SELECT CAST(o_orderkey AS BIGINT) o_orderkey, CAST(o_custkey AS BIGINT) o_custkey, "
              "o_orderstatus, CAST(o_totalprice AS DOUBLE) o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) o_orderdate, o_orderpriority FROM orders",
    "lineitem": "SELECT CAST(l_orderkey AS BIGINT) l_orderkey, CAST(l_partkey AS BIGINT) l_partkey, "
                "CAST(l_suppkey AS BIGINT) l_suppkey, CAST(l_linenumber AS INTEGER) l_linenumber, "
                "CAST(l_quantity AS DOUBLE) l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) l_extendedprice, "
                "CAST(l_discount AS DOUBLE) l_discount, CAST(l_tax AS DOUBLE) l_tax, "
                "l_returnflag, l_linestatus, CAST(l_shipdate AS TIMESTAMP) l_shipdate "
                "FROM lineitem",
}


def ensure_tpch(data_dir, sf):
    """Write the TPC-H tables for `sf` under `data_dir` once; later calls
    reuse them (the store's freshness check keys on file size and mtime)."""
    done = os.path.join(data_dir, "_COMPLETE")
    if os.path.exists(done):
        return data_dir
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CALL dbgen(sf={sf})")
    for name, sql in TPCH_SQL.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()
    with open(done, "w") as f:
        f.write(str(sf))
    return data_dir


# --------------------------------------------------------------- hashing

MASK = (1 << 64) - 1


def key_hash(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")


def digest(keys):
    return {"n": len(keys), "h": str(sum(map(key_hash, keys)) & MASK)}


# --------------------------------------------------------------- oracle

class Oracle:
    """The canonical graph's edge and closure tables, derived from the raw
    TPC-H tables with the closed-form rules of TpchGraph's build."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for name in TPCH_SQL:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')")
        self.con.execute(EDGES_SQL)
        self.customers = [r[0] for r in self.con.execute(
            "SELECT c_custkey FROM customer ORDER BY 1").fetchall()]
        self.cust_nation = dict(self.con.execute(
            "SELECT c_custkey, c_nationkey FROM customer").fetchall())
        self.cust_row = {r[0]: r[1:] for r in self.con.execute(
            "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer").fetchall()}
        self.nation_region = dict(self.con.execute(
            "SELECT n_nationkey, n_regionkey FROM nation").fetchall())
        self.parts = [r[0] for r in self.con.execute(
            "SELECT p_partkey FROM part ORDER BY 1").fetchall()]
        self.orders = [r[0] for r in self.con.execute(
            "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
        self.buyers = [r[0] for r in self.con.execute(
            "SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]

    def rows(self, params, sql):
        """Run `sql` against a `p(req, v)` parameter table; returns
        {req: [row tuple without req]}."""
        reqs, vs, ws = zip(*params) if params else ((), (), ())
        self.con.register("p", pa.table({
            "req": pa.array(reqs, pa.int32()), "v": pa.array(vs, pa.string()),
            "w": pa.array(ws, pa.string())}))
        out = {}
        for row in self.con.execute(sql).fetchall():
            out.setdefault(row[0], []).append(tuple(row[1:]))
        return out


EDGES_SQL = """
CREATE TABLE g_edges AS
  SELECT 'E-NR:' || n_nationkey AS edge_id, 'NAT:' || n_nationkey AS subject,
         'REG:' || n_regionkey AS object, 'graft:part_of' AS predicate,
         CAST(NULL AS VARCHAR) AS qualified_predicate,
         CAST(NULL AS VARCHAR) AS object_direction, 'infores:geo' AS src
  FROM nation
  UNION ALL SELECT 'E-CN:' || c_custkey, 'CUST:' || c_custkey, 'NAT:' || c_nationkey,
         'graft:located_in', NULL, NULL, 'infores:crm' FROM customer
  UNION ALL SELECT 'E-SN:' || s_suppkey, 'SUPP:' || s_suppkey, 'NAT:' || s_nationkey,
         'graft:located_in', NULL, NULL, 'infores:crm' FROM supplier
  UNION ALL SELECT 'E-OC:' || o_orderkey, 'CUST:' || o_custkey, 'ORD:' || o_orderkey,
         'graft:placed', NULL, NULL, 'infores:sales' FROM orders
  UNION ALL SELECT 'E-LI:' || l_orderkey || ':' || l_linenumber, 'ORD:' || l_orderkey,
         'PART:' || l_partkey, 'graft:contains_item', 'graft:ships',
         CASE l_returnflag WHEN 'R' THEN 'graft:returned' WHEN 'A' THEN 'graft:accepted' END,
         'infores:logistics' FROM lineitem
  UNION ALL SELECT 'E-PS:' || l_partkey || ':' || l_suppkey, 'PART:' || l_partkey,
         'SUPP:' || l_suppkey, 'graft:supplied_by', NULL, NULL, 'infores:logistics'
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  UNION ALL SELECT 'E-ADJ:' || n_nationkey || ':' || next_key, 'NAT:' || n_nationkey,
         'NAT:' || next_key, 'graft:adjacent_to', NULL, NULL, 'infores:geo'
  FROM (SELECT n_nationkey, lead(n_nationkey) OVER
          (PARTITION BY n_regionkey ORDER BY n_nationkey) AS next_key FROM nation)
  WHERE next_key IS NOT NULL
  UNION ALL SELECT 'E-SUBNR:' || n_nationkey, 'NAT:' || n_nationkey, 'REG:' || n_regionkey,
         'graft:subclass_of', NULL, NULL, 'infores:tax' FROM nation
  UNION ALL SELECT 'E-SUBCN:' || c_custkey, 'CUST:' || c_custkey, 'NAT:' || c_nationkey,
         'graft:subclass_of', NULL, NULL, 'infores:tax' FROM customer;
CREATE TABLE g_desc AS
  SELECT 'REG:' || n_regionkey AS anc, 'NAT:' || n_nationkey AS node FROM nation
  UNION ALL SELECT 'NAT:' || c_nationkey, 'CUST:' || c_custkey FROM customer
  UNION ALL SELECT 'REG:' || n_regionkey, 'CUST:' || c_custkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey;
"""

# --------------------------------------------------------------- shapes
#
# Each shape draws parameters, builds the query the harness sends and
# states the SQL rule for its answer bindings. A rule selects
# (req, edge_id, input_id, output_id) from `g_edges` joined to the
# parameter table p(req, v, w).

def qnode(key, ids=(), cats=()):
    return {"key": key, "ids": list(ids), "categories": list(cats)}


def qgraph(subj, obj, preds=(), qualifier=None, attrs=()):
    return {"nodes": [subj, obj],
            "edge": {"subject": subj["key"], "object": obj["key"],
                     "predicates": list(preds), "qualifier": qualifier,
                     "attrs": list(attrs)}}


def canonical(op, body):
    """Canonical request text: the cache key the serving layer is given."""
    return op + ":" + json.dumps(body, sort_keys=True, separators=(",", ":"))


def _pick(rng, pool, lo, hi):
    return sorted(rng.sample(pool, rng.randint(lo, hi)))


def _nats(ks):
    return [f"NAT:{k}" for k in ks]


# rules over p(req, v): v = pinned id
FWD_LOCATED = """SELECT p.req, e.edge_id, e.subject, e.object FROM g_edges e
  JOIN p ON e.subject = p.v WHERE e.predicate = 'graft:located_in'"""
REV_LOCATED_CUST = """SELECT p.req, e.edge_id, e.object, e.subject FROM g_edges e
  JOIN p ON e.object = p.v
  WHERE e.predicate = 'graft:located_in' AND e.subject LIKE 'CUST:%'"""
SUPPLIED = """SELECT p.req, e.edge_id, e.subject, e.object FROM g_edges e
  JOIN p ON e.subject = p.v WHERE e.predicate = 'graft:supplied_by'"""
SYMMETRIC = """SELECT p.req, e.edge_id, e.subject, e.object FROM g_edges e
  JOIN p ON e.subject = p.v WHERE e.predicate = 'graft:adjacent_to'
  UNION ALL SELECT p.req, e.edge_id, e.object, e.subject FROM g_edges e
  JOIN p ON e.object = p.v WHERE e.predicate = 'graft:adjacent_to'"""
PLACED = """SELECT p.req, e.edge_id, e.subject, e.object FROM g_edges e
  JOIN p ON e.subject = p.v WHERE e.predicate = 'graft:placed'"""
QUALIFIED = """SELECT p.req, e.edge_id, e.object, e.subject FROM g_edges e
  JOIN p ON e.object = p.v WHERE e.qualified_predicate = 'graft:ships'
  AND e.object_direction IN ('graft:returned', 'graft:accepted')"""
# v = nation id, w = 'threshold|segment'
ATTRS = """SELECT p.req, e.edge_id, e.object, e.subject FROM g_edges e
  JOIN p ON e.object = p.v
  JOIN customer c ON e.subject = 'CUST:' || c.c_custkey
  WHERE e.predicate = 'graft:located_in'
    AND c.c_acctbal > CAST(split_part(p.w, '|', 1) AS DOUBLE)
    AND c.c_mktsegment <> split_part(p.w, '|', 2)"""
# v = nation id, w = region id (w only on the first row of a request)
PART_OF = """SELECT p.req, e.edge_id, e.subject, e.object FROM g_edges e
  JOIN p ON e.subject = p.v
  WHERE e.predicate = 'graft:part_of'
    AND e.object IN (SELECT q.w FROM p q WHERE q.req = p.req AND q.w IS NOT NULL)"""
# rows, not bindings: getEdges / getNeighbors / singleNode
# v = 'a--b' pair key
GET_EDGES = """SELECT p.req, p.v || '|' || e.edge_id FROM g_edges e JOIN p
  ON least(e.subject, e.object) = least(split_part(p.v, '--', 1), split_part(p.v, '--', 2))
 AND greatest(e.subject, e.object) = greatest(split_part(p.v, '--', 1), split_part(p.v, '--', 2))"""
# v = nation id; neighbours of category Customer over related_to
NEIGHBORS_CUST = """SELECT DISTINCT p.req, p.v || '|' || 'CUST:' || c.c_custkey
  FROM p JOIN customer c ON p.v = 'NAT:' || c.c_nationkey"""
# v = listed id: the ids themselves plus their descendants, tagged with the
# listed ancestor (listed ids never nest, see Builder.single_node)
SINGLE_NODE = """SELECT p.req, p.v || '|' FROM p
  UNION ALL SELECT p.req, d.node || '|' || p.v FROM p JOIN g_desc d ON d.anc = p.v"""


def binding_keys(rows):
    """TRAPI results a one-hop answer renders to: one per distinct
    (input, output) result group."""
    return {"result|" + i + "--" + o for _, i, o in rows}


class Builder:
    """Accumulates requests of many shapes, then resolves every rule in one
    DuckDB query per rule."""

    def __init__(self, oracle, rng):
        self.o = oracle
        self.rng = rng
        self.reqs = []
        self.pending = {}  # rule sql -> [(req, v, w)]
        self.kind = {}     # req -> "bindings" | "rows"
        self.keys = set()  # canonical keys drawn so far

    def add(self, req, rule_params, keys="bindings"):
        i = len(self.reqs)
        self.reqs.append(req)
        self.kind[i] = keys
        for sql, params in rule_params:
            self.pending.setdefault(sql, []).extend((i, v, w) for v, w in params)
        return i

    # ---- shapes (small answers) ----
    def fwd(self):
        ids = [f"CUST:{c}" for c in _pick(self.rng, self.o.customers, 1, 6)]
        qg = qgraph(qnode("n0", ids), qnode("n1", cats=["graft:Nation"]), [LOCATED_IN])
        return {"op": "answer", "qg": qg}, [(FWD_LOCATED, [(v, None) for v in ids])]

    def rev(self):
        ids = _nats(_pick(self.rng, range(NATIONS), 1, 2))
        qg = qgraph(qnode("n_out", cats=["graft:Customer"]), qnode("n_in", ids), [LOCATED_IN])
        return {"op": "answer", "qg": qg}, [(REV_LOCATED_CUST, [(v, None) for v in ids])]

    def pinned(self):
        keys = _pick(self.rng, range(NATIONS), 3, 8)
        regs = sorted({f"REG:{self.o.nation_region[k]}" for k in self.rng.sample(keys, 2)})
        nats = _nats(keys)
        qg = qgraph(qnode("n0", nats), qnode("n1", regs), ["graft:part_of"])
        # regions ride on the first rows; 3+ nations keep the nation side the input
        params = [(v, regs[i] if i < len(regs) else None) for i, v in enumerate(nats)]
        return {"op": "answer", "qg": qg}, [(PART_OF, params)]

    def predicate_hierarchy(self):
        ids = [f"PART:{k}" for k in _pick(self.rng, self.o.parts, 1, 10)]
        qg = qgraph(qnode("n0", ids), qnode("n1"), ["graft:transacts"])
        return {"op": "answer", "qg": qg}, [(SUPPLIED, [(v, None) for v in ids])]

    def symmetric(self):
        ids = _nats([self.rng.randrange(NATIONS)])
        qg = qgraph(qnode("n0", ids), qnode("n1"), ["graft:adjacent_to"])
        return {"op": "answer", "qg": qg}, [(SYMMETRIC, [(v, None) for v in ids])]

    def canonical_flip(self):
        ids = [f"CUST:{c}" for c in _pick(self.rng, self.o.buyers, 1, 6)]
        qg = qgraph(qnode("nb"), qnode("na", ids), ["graft:placed_by"])
        return {"op": "answer", "qg": qg}, [(PLACED, [(v, None) for v in ids])]

    def qualified(self):
        ids = [f"PART:{k}" for k in _pick(self.rng, self.o.parts, 1, 8)]
        qg = qgraph(qnode("nOrd"), qnode("nPart", ids),
                    qualifier={"qualified_predicate": "graft:ships",
                               "object_direction": "graft:flagged"})
        return {"op": "answer", "qg": qg}, [(QUALIFIED, [(v, None) for v in ids])]

    def attribute(self):
        ids = _nats(_pick(self.rng, range(NATIONS), 1, 4))
        t = self.rng.choice([0, 1000, 3000, 5000])
        seg = self.rng.choice(SEGMENTS)
        attrs = [{"id": "acctbal", "op": ">", "num": [float(t)]},
                 {"id": "mktsegment", "op": "==", "str": [seg], "negated": True},
                 {"id": "knowledge_source", "op": "==", "str": ["infores:crm"]}]
        qg = qgraph(qnode("nOut", cats=["graft:Customer"]), qnode("nIn", ids),
                    [LOCATED_IN], attrs=attrs)
        return {"op": "answer", "qg": qg}, [(ATTRS, [(v, f"{t}|{seg}") for v in ids])]

    def get_edges(self):
        custs = _pick(self.rng, self.o.customers, 2, 3)
        pairs = [(f"CUST:{c}", f"NAT:{self.o.cust_nation[c]}") for c in custs]
        n = self.rng.randrange(NATIONS)
        pairs.append((f"REG:{self.o.nation_region[n]}", f"NAT:{n}"))
        pairs.append((f"CUST:{custs[0]}", f"REG:{self.rng.randrange(REGIONS)}"))
        return ({"op": "edges", "pairs": [list(p) for p in pairs]},
                [(GET_EDGES, [(f"{a}--{b}", None) for a, b in pairs])])

    def neighbors(self):
        ids = _nats(_pick(self.rng, range(NATIONS), 1, 2))
        return ({"op": "neighbors", "ids": ids, "categories": ["graft:Customer"],
                 "predicates": ["graft:related_to"]},
                [(NEIGHBORS_CUST, [(v, None) for v in ids])])

    def single_node(self):
        n = self.rng.randrange(NATIONS)
        others = [c for c in self.rng.sample(self.o.customers, 8)
                  if self.o.cust_nation[c] != n][:2]
        ids = [f"NAT:{n}"] + [f"CUST:{c}" for c in others]
        away = [r for r in range(REGIONS) if r != self.o.nation_region[n]
                and all(self.o.nation_region[self.o.cust_nation[c]] != r for c in others)]
        if away and self.rng.random() < 0.5:
            ids.append(f"REG:{self.rng.choice(away)}")
        return {"op": "node", "ids": ids}, [(SINGLE_NODE, [(v, None) for v in ids])]

    def resolve(self):
        """Run every rule once and attach each request's expected digest."""
        got = {}
        for sql, params in self.pending.items():
            for req, rows in self.o.rows(params, sql).items():
                got.setdefault(req, []).extend(rows)
        for i, req in enumerate(self.reqs):
            rows = got.get(i, [])
            keys = (binding_keys(rows) if self.kind[i] == "bindings"
                    else {r[0] for r in rows})
            req["expect"] = digest(keys)


ROW_SHAPES = {"get_edges", "neighbors", "single_node"}


def _emit(b, shape):
    """Draw one request of `shape`; False when its canonical key was drawn
    before (small shapes, such as one nation's neighbours, repeat often)."""
    req, rules = getattr(b, shape)()
    key = canonical(req["op"], req)
    if key in b.keys:
        return False
    b.keys.add(key)
    req["shape"] = shape
    b.add(req, rules, "rows" if shape in ROW_SHAPES else "bindings")
    return True


def finish(b):
    """Resolve all rules; returns the request list, each request with its
    expected digest and canonical key."""
    b.resolve()
    for r in b.reqs:
        body = {k: v for k, v in r.items() if k not in ("expect", "shape")}
        r["key"] = canonical(r["op"], body)
    return b.reqs


LOOKUP_SHAPES = ["fwd", "rev", "pinned", "predicate_hierarchy", "symmetric",
                 "canonical_flip", "qualified", "attribute", "get_edges",
                 "neighbors", "single_node"]
# shapes whose answers no refresh delta changes (see refresh_plan)
REFRESH_SHAPES = ["fwd", "rev", "pinned", "predicate_hierarchy", "symmetric"]


def request_stream(oracle, seed, shapes, pool, length, repeat):
    """Seeded requests cycling through `shapes` in a fixed order, so every
    window of len(shapes) positions carries each shape once and the mix
    does not drift with the seed. `pool` distinct requests are drawn; a
    share `repeat` of each shape's positions re-issues an earlier request
    of that shape, at evenly spaced positions, so every window of the
    stream holds the same repeat share whatever the seed; drawn requests
    have distinct keys, so no other position repeats until a shape's
    distinct requests run out. Both the even shape mix and the repeat
    share are assumptions of this benchmark, not taken from a measured
    client trace (see README.md). One-hop answers are checked as rendered
    to their TRAPI results."""
    rng = random.Random(seed)
    b = Builder(oracle, rng)
    per_shape = max(1, pool // len(shapes))
    for shape in shapes:
        drawn = tries = 0
        while drawn < per_shape and tries < 20 * per_shape:
            drawn += _emit(b, shape)
            tries += 1
    reqs = finish(b)
    fresh = {s: [i for i, r in enumerate(reqs) if r["shape"] == s] for s in shapes}
    issued = {s: [] for s in shapes}
    seq = []
    for k in range(length):
        s = shapes[k % len(shapes)]
        j = k // len(shapes)  # this shape's j-th position
        due = int((j + 1) * repeat) > int(j * repeat)
        if issued[s] and (not fresh[s] or due):
            seq.append(rng.choice(issued[s]))
        else:
            i = fresh[s].pop(0)
            issued[s].append(i)
            seq.append(i)
    return reqs, seq


# --------------------------------------------------------------- refresh

def refresh_plan(oracle, seed, deltas):
    """Seeded KGX deltas, applied in order. Each names the ids it touches
    and the probes that must read differently afterwards:

    * renamed customers (new name must be served),
    * a hub node and a located_in edge per chosen nation (must appear),
    * tombstoned orders (node and every incident edge must vanish),
    * re-sourced located_in edges (new primary source must be served),
    * every second delta tombstones one nation's subclass edge (closure
      rebuild; the nation must leave its region's descendants).

    Background lookups only use REFRESH_SHAPES, whose answers no delta
    changes: they touch customers' located_in edges, part_of, supplied_by
    and adjacency, never orders, hubs' categories or subclass edges."""
    rng = random.Random(seed ^ 0x5EED)
    plan = []
    used_orders = set()
    sub_nations = list(range(NATIONS))
    rng.shuffle(sub_nations)
    for d in range(deltas):
        renamed = rng.sample(oracle.customers, 20)
        hubs = sorted(rng.sample(range(NATIONS), 3))
        orders = [o for o in rng.sample(oracle.orders, 30) if o not in used_orders][:20]
        used_orders.update(orders)
        resourced = rng.sample(oracle.customers, 20)
        sub = [sub_nations.pop()] if d % 2 == 1 and sub_nations else []
        plan.append({"delta": d,
                     "renamed": [[f"CUST:{c}", f"Customer#{c} (d{d})"] for c in renamed],
                     "hubs": [[f"HUB:{d}:{n}", f"NAT:{n}"] for n in hubs],
                     "orders": [f"ORD:{o}" for o in orders],
                     "resourced": [f"E-CN:{c}" for c in resourced],
                     "source": f"infores:crm-d{d}",
                     "subclass": [f"E-SUBNR:{n}" for n in sub],
                     "subclass_nodes": [[f"NAT:{n}", f"REG:{oracle.nation_region[n]}"]
                                        for n in sub]})
    return plan


NODE_SCHEMA = pa.schema([("id", pa.string()), ("name", pa.string()),
                         ("categories", pa.list_(pa.string())),
                         ("equiv_ids", pa.list_(pa.string()))])
EDGE_SCHEMA = pa.schema([(c, pa.string()) for c in (
    "edge_id", "subject", "object", "predicate", "qualified_predicate",
    "object_direction", "object_aspect", "primary_knowledge_source")] + [
    ("attrs", pa.map_(pa.string(), pa.string())),
    ("num_attrs", pa.map_(pa.string(), pa.float64())),
    ("list_attrs", pa.map_(pa.string(), pa.list_(pa.string())))])


def _edge(edge_id, subject, obj, source, attrs=(), num=(), lists=()):
    return {"edge_id": edge_id, "subject": subject, "object": obj,
            "predicate": LOCATED_IN, "qualified_predicate": None,
            "object_direction": None, "object_aspect": None,
            "primary_knowledge_source": source, "attrs": list(attrs),
            "num_attrs": list(num), "list_attrs": list(lists)}


def write_drops(oracle, plan, root):
    """Write each delta of `plan` as a KGX drop under root/drop-<n>: four
    parquet frames (node upserts, node tombstones, edge upserts, edge
    tombstones) whose rows are the raw graph's rows as TpchGraph derives
    them from the TPC-H tables — renamed customers keep their categories
    and equivalent ids, re-sourced customer located_in edges keep their
    attributes — plus each delta's hub nodes and edges."""
    import pyarrow.parquet as pq
    for d in plan:
        out = os.path.join(root, f"drop-{d['delta']}")
        nodes, edges = [], []
        for cid, name in d["renamed"]:
            c = int(cid.split(":")[1])
            nodes.append({"id": cid, "name": name,
                          "categories": ["graft:Customer", "graft:Actor"],
                          "equiv_ids": ["CUSTNAME:" + oracle.cust_row[c][0]]})
        for hub, nat in d["hubs"]:
            nodes.append({"id": hub, "name": "Hub " + hub, "categories": ["graft:Place"],
                          "equiv_ids": []})
            edges.append(_edge("E-" + hub, hub, nat, "infores:geo"))
        for eid in d["resourced"]:
            c = int(eid.split(":")[1])
            _, seg, bal = oracle.cust_row[c]
            edges.append(_edge(eid, f"CUST:{c}", f"NAT:{oracle.cust_nation[c]}", d["source"],
                               [("mktsegment", seg)], [("acctbal", bal)],
                               [("tags", [seg, f"tier{c % 3}"])]))
        frames = {
            "node_upserts": pa.Table.from_pylist(nodes, NODE_SCHEMA),
            "node_tombstones": pa.table({"id": pa.array(d["orders"], pa.string())}),
            "edge_upserts": pa.Table.from_pylist(edges, EDGE_SCHEMA),
            "edge_tombstones": pa.table({"edge_id": pa.array(d["subclass"], pa.string())}),
        }
        for name, table in frames.items():
            os.makedirs(os.path.join(out, name))
            pq.write_table(table, os.path.join(out, name, "part-0.parquet"))
