#!/usr/bin/env python3
"""Reference-twin baseline: run the ACTUAL reference engine (PloverDB,
/root/reference/app/app/plover.py) on this repo's fixture graph, and record
its index-build time, index-load time, and per-query latencies next to the
graft engine's BENCH numbers.

The reference cannot run unmodified in this container (no network egress;
pympler/psutil/biolink_helper_pkg not installed), so this harness:
  1. copies the reference app VERBATIM into a /tmp sandbox (no reference
     code enters the repo — the repo ships only this harness);
  2. provides stub modules for pympler/psutil/flask/requests (metrics and
     HTTP plumbing only — none affect query semantics; the requests stub
     RAISES if touched, proving the run stayed offline);
  3. provides a BiolinkHelper stub backed by the repo's own fixture
     ontology (exported by `graft.OntologyExport` — ancestors/descendants/
     mixins/canonical/symmetric, the exact tables the Spark engine uses);
  4. exports the graph-store parquet (nodes + denormalized edges) as the
     KGX-style TSVs plover ingests, with graft:subclass_of renamed to
     biolink:subclass_of (plover hardcodes the biolink name for its
     subclass index; the stub ontology carries the alias);
  5. builds plover's indexes, then times the TRAPI/batch equivalents of
     the repo's g03-g19 query keys, cross-checking answer sizes against
     the Spark engine's Verify dumps at the same scale factor.

Usage: python3 tools/refbaseline.py [sfDir] [repeats]
Writes baseline_ref.json + BASELINE_REF.md into the repo root.
"""
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPEATS = int(sys.argv[2]) if len(sys.argv) > 2 else 20
SANDBOX = Path("/tmp/refbench")
ONTOLOGY_JSON = REPO / "target" / "ontology.json"


# --------------------------------------------------------------- sandbox

def sbt(main: str, *args: str) -> None:
    cmd = ["sbt", "-batch", f"runMain {main} {' '.join(args)}".strip()]
    subprocess.run(cmd, cwd=REPO, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)


def store_dir() -> Path:
    import hashlib
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()
    return REPO / "target" / "graph-store" / tag


def ensure_inputs() -> None:
    if not ONTOLOGY_JSON.exists():
        print("[refbaseline] exporting ontology ...")
        sbt("graft.OntologyExport", str(ONTOLOGY_JSON))
    if not (store_dir() / "edges.parquet" / "_SUCCESS").exists():
        print(f"[refbaseline] populating graph store for {SF_DIR} ...")
        sbt("graft.WarmProbe", SF_DIR)


STUBS = {
    "pympler.py": """
class _Asizeof:
    @staticmethod
    def asizeof(*a, **k):
        return 0
asizeof = _Asizeof()
""",
    "psutil.py": """
class _VM:
    total = 1 << 40; available = 1 << 40; percent = 0.0; used = 0
def virtual_memory():
    return _VM()
class Process:
    def __init__(self, *a, **k): pass
    def memory_info(self):
        class _MI: rss = 0; vms = 0
        return _MI()
    def memory_percent(self): return 0.0
""",
    "flask.py": """
class _HTTPError(Exception):
    pass
def abort(code, message=None):
    raise _HTTPError(f"{code}: {message}")
""",
    "requests.py": """
# The baseline run must stay offline: any attempt to use the network is a
# harness bug (normalize=false and convert_input_ids=false in the config
# keep plover off these paths).
class RequestException(Exception):
    pass
def _refuse(*a, **k):
    raise RequestException("refbaseline sandbox is offline by design")
get = post = _refuse
""",
    # BiolinkHelper twin backed by the repo's exported fixture ontology.
    "biolink_helper_pkg.py": """
import json, os

def _closure(start, edges):
    seen = {start}
    frontier = set(edges.get(start, ()))
    while frontier:
        seen |= frontier
        frontier = {n for t in frontier for n in edges.get(t, ())} - seen
    return seen

class BiolinkHelper:
    # plover hardcodes biolink:subclass_of / biolink:superclass_of for its
    # subclass index, so those two fixture predicates are RENAMED to the
    # biolink names everywhere (the exported TSV does the same) — the
    # canonical form must be the biolink name or ingest canonicalization
    # would rewrite it back and disable subclass reasoning. The graft:
    # names stay accepted as input aliases, and biolink:related_to (the
    # get_edges template literal) aliases to the fixture root predicate.
    RENAME = {"graft:subclass_of": "biolink:subclass_of",
              "graft:superclass_of": "biolink:superclass_of"}

    def __init__(self, biolink_version=None, biolink_helper_dir=None):
        with open(os.environ["GRAFT_ONTOLOGY_JSON"], encoding="utf-8") as f:
            o = json.load(f)
        rn = lambda t: self.RENAME.get(t, t)
        self.parents = {rn(k): {rn(p) for p in v}
                        for k, v in o["parents"].items()}
        self.children = {}
        for child, ps in self.parents.items():
            for p in ps:
                self.children.setdefault(p, set()).add(child)
        self.mixins = {rn(t) for t in o["mixins"]}
        self.mixin_direct_map = {rn(k): {rn(t) for t in v}
                                 for k, v in o["mixin_direct_map"].items()}
        self.symmetric = {rn(t) for t in o["symmetric"]}
        self.canonical_of = {rn(k): rn(v) for k, v in o["canonical_of"].items()}
        self.root_category = o["root_category"]
        self.root_predicate = o["root_predicate"]
        self.alias = {"biolink:related_to": self.root_predicate, **self.RENAME}

    def _canon(self, item):
        return self.alias.get(item, item)

    def _items(self, items):
        # None appears as a conglomerate-qualifier wildcard
        # (plover.py:1505-1509); it has no ancestors of its own.
        if items is None:
            return []
        return [items] if isinstance(items, str) else list(items)

    def _filter_mixins(self, term, terms, include_mixins):
        if include_mixins:
            return terms
        return {t for t in terms if t == term or t not in self.mixins}

    def get_ancestors(self, items, include_mixins=True, include_conflations=True,
                      **_):
        out = set()
        for raw in self._items(items):
            t = self._canon(raw)
            anc = self._filter_mixins(t, _closure(t, self.parents), include_mixins)
            out |= {raw if a == t else a for a in anc}
        return list(out)

    def get_descendants(self, items, include_mixins=True, include_conflations=True,
                        **_):
        out = set()
        for raw in self._items(items):
            t = self._canon(raw)
            desc = self._filter_mixins(t, _closure(t, self.children), include_mixins)
            out |= {raw if d == t else d for d in desc}
        return list(out)

    def get_canonical_predicates(self, items, print_warnings=True, **_):
        return [self.canonical_of.get(self._canon(p), self._canon(p))
                for p in self._items(items)]

    def replace_mixins_with_direct_mappings(self, items):
        out = set()
        for raw in self._items(items):
            t = self._canon(raw)
            out |= self.mixin_direct_map.get(t, {t}) if t in self.mixins else {t}
        return out

    def get_root_category(self):
        return self.root_category

    def get_root_predicate(self):
        return self.root_predicate

    def is_symmetric(self, predicate):
        return self._canon(predicate) in self.symmetric
""",
}

CONFIG = {
    "nodes_file": "nodes_graft.tsv",
    "edges_file": "edges_graft.tsv",
    "biolink_version": "graft-fixture",
    "kp_infores_curie": "infores:graft",
    "endpoint_name": "graftfixture",
    "is_test": True,
    "debug": False,
    "labels": {"edges": "predicate", "nodes": "categories"},
    "num_edges_per_answer_cutoff": 10_000_000,
    "delete_local_kg_files": False,
    "normalize": False,
    "convert_input_ids": False,
    "equiv_ids_in_graph": False,
    "other_array_properties": ["categories", "tags"],
    "ignore_edge_properties": [],
    "ignore_node_properties": [],
    "trapi_attribute_map": {
        p: {"attribute_type_id": p, "value_type_id": "metatype:String",
            "attribute_source": "{kp_infores_curie}"}
        for p in ["mktsegment", "acctbal", "tags", "status", "priority",
                  "totalprice", "shipdate", "quantity", "extendedprice",
                  "discount"]
    },
}


def make_sandbox() -> None:
    if SANDBOX.exists():
        shutil.rmtree(SANDBOX)
    SANDBOX.mkdir(parents=True)
    shutil.copytree("/root/reference/app/app", SANDBOX / "app" / "app")
    shutil.copy("/root/reference/app/trapi_attribute_template.json",
                SANDBOX / "app" / "trapi_attribute_template.json")
    shutil.copy("/root/reference/app/kp_home_template.html",
                SANDBOX / "app" / "kp_home_template.html")
    stubs = SANDBOX / "stubs"
    stubs.mkdir()
    for name, body in STUBS.items():
        (stubs / name).write_text(body, encoding="utf-8")
    (SANDBOX / "app" / "config_graft.json").write_text(
        json.dumps(CONFIG, indent=1), encoding="utf-8")


def export_tsvs() -> None:
    """Graph-store parquet -> plover-format KGX TSVs (DuckDB flattening:
    category arrays joined on the config delimiter, attr maps widened to
    one column per property, subclass predicates renamed to the biolink
    names plover's subclass index matches on)."""
    import duckdb
    con = duckdb.connect()
    sd = store_dir()
    con.sql(f"""
        COPY (
          SELECT id, name, array_to_string(categories, ',') AS categories
          FROM read_parquet('{sd}/nodes.parquet/*.parquet') ORDER BY id
        ) TO '{SANDBOX}/app/nodes_graft.tsv' (DELIMITER '\t', HEADER)
    """)
    attr = {p: f"attrs['{p}'][1]" for p in
            ["mktsegment", "status", "priority", "shipdate"]}
    attr |= {p: f"num_attrs['{p}'][1]" for p in
             ["acctbal", "totalprice", "quantity", "extendedprice", "discount"]}
    attr_cols = ",\n".join(f"{expr} AS {p}" for p, expr in attr.items())
    # The synthetic lineitem fixture contains duplicate (orderkey,
    # linenumber) pairs, so E-LI edge ids collide (distinct edges, same
    # id). The graft engine carries them all; plover keys its edge map by
    # id and would silently DROP one of each pair. Disambiguate with a
    # '#n' suffix so both engines process the identical edge multiset;
    # answer sizes compare on the base id (suffix stripped).
    con.sql(f"""
        COPY (
          SELECT CASE WHEN cnt > 1 THEN edge_id || '#' || rn
                      ELSE edge_id END AS id,
                 subject, object,
                 CASE predicate
                   WHEN 'graft:subclass_of' THEN 'biolink:subclass_of'
                   WHEN 'graft:superclass_of' THEN 'biolink:superclass_of'
                   ELSE predicate END AS predicate,
                 qualified_predicate,
                 object_direction AS object_direction_qualifier,
                 object_aspect AS object_aspect_qualifier,
                 primary_knowledge_source,
                 {attr_cols},
                 array_to_string(list_attrs['tags'][1], ',') AS tags
          FROM (SELECT *,
                  row_number() OVER (PARTITION BY edge_id
                    ORDER BY subject, object, object_direction, object_aspect) AS rn,
                  count(*) OVER (PARTITION BY edge_id) AS cnt
                FROM read_parquet('{sd}/edges.parquet/*.parquet'))
          ORDER BY id
        ) TO '{SANDBOX}/app/edges_graft.tsv' (DELIMITER '\t', HEADER)
    """)


# --------------------------------------------------------------- queries

def cust(*ks):
    return [f"CUST:{k}" for k in ks]


def nat(*ks):
    return [f"NAT:{k}" for k in ks]


def part(*ks):
    return [f"PART:{k}" for k in ks]


def onehop(subj, obj, **edge):
    return {"message": {"query_graph": {
        "nodes": {"n0": subj, "n1": obj},
        "edges": {"e0": {"subject": "n0", "object": "n1", **edge}}}}}


# TRAPI/batch equivalents of the repo's registered graph query keys —
# mirror src/main/scala/graft/keys/GraphKeys.scala records 1:1.
TRAPI_QUERIES = {
    "g03_onehop_fwd": onehop(
        {"ids": cust(1, 2, 7, 13, 42, 99)}, {"categories": ["graft:Nation"]},
        predicates=["graft:located_in"]),
    "g04_onehop_rev": onehop(
        {"categories": ["graft:Customer"]}, {"ids": nat(1, 3, 5)},
        predicates=["graft:located_in"]),
    "g05_onehop_open": onehop({"ids": nat(7)}, {}),
    "g06_onehop_pinned": onehop(
        {"ids": nat(*range(12))}, {"ids": ["REG:1", "REG:2"]},
        predicates=["graft:part_of"]),
    "g07_onehop_multi": onehop(
        {"categories": ["graft:Customer", "graft:Nation"]},
        {"ids": nat(0, 1, 2)},
        predicates=["graft:located_in", "graft:adjacent_to"]),
    "g08_category_hierarchy": onehop(
        {"categories": ["graft:Actor"]}, {"ids": nat(3)},
        predicates=["graft:affiliated_with"]),
    "g09_predicate_hierarchy": onehop(
        {"ids": part(*range(1, 11))}, {}, predicates=["graft:transacts"]),
    "g10_symmetric": onehop(
        {"ids": nat(4)}, {}, predicates=["graft:adjacent_to"]),
    "g11_canonical_flip": onehop(
        {}, {"ids": cust(*range(1, 7))}, predicates=["graft:placed_by"]),
    "g13_subclass_expansion": onehop(
        {}, {"ids": ["REG:3"]}, predicates=["graft:located_in"]),
    "g14_single_node": {"message": {"query_graph": {
        "nodes": {"n0": {"ids": ["REG:1", "NAT:20", "CUST:3"]}},
        "edges": {}}}},
    "g15_qualified": onehop(
        {}, {"ids": part(*range(1, 41))},
        qualifier_constraints=[{"qualifier_set": [
            {"qualifier_type_id": "biolink:qualified_predicate",
             "qualifier_value": "graft:ships"},
            {"qualifier_type_id": "biolink:object_direction_qualifier",
             "qualifier_value": "graft:flagged"}]}]),
    "g16_attr_constraint": onehop(
        {"categories": ["graft:Customer"]}, {"ids": nat(*range(10))},
        predicates=["graft:located_in"],
        attribute_constraints=[
            {"id": "acctbal", "name": "acctbal", "operator": ">",
             "value": 1000.0},
            {"id": "mktsegment", "name": "mktsegment", "operator": "==",
             "value": "MACHINERY", "not": True},
            {"id": "knowledge_source", "name": "knowledge_source",
             "operator": "==", "value": "infores:crm"}]),
}

BATCH_QUERIES = {
    "g18_get_edges": ("get_edges", ([["NAT:0", "REG:0"], ["NAT:1", "NAT:2"],
                                     ["CUST:1", "NAT:7"], ["REG:0", "NAT:3"]],)),
    "g19_get_neighbors": ("get_neighbors",
                          (nat(0, 1, 2, 3, 4), ["graft:Customer"],
                           ["graft:related_to"])),
}


def base_id(edge_id):
    return edge_id.split("#")[0]


def answer_size(key, res):
    if key == "g14_single_node":
        return len(res["message"]["knowledge_graph"]["nodes"])
    if key == "g18_get_edges":
        return sum(len({base_id(e) for e in v})
                   for v in res["pairs_to_edge_ids"].values())
    if key == "g19_get_neighbors":
        # get_neighbors returns the {input_id: [neighbor_ids]} map directly
        return sum(len(set(v)) for v in res.values())
    return len({base_id(e)
                for e in res["message"]["knowledge_graph"]["edges"]})


def graft_counts() -> dict:
    """Distinct-edge / row counts from the Spark engine's Verify dumps at
    the SAME sf, for the answer-size cross-check."""
    import duckdb
    import hashlib
    out = Path("/tmp/refbaseline-verify-"
               + hashlib.md5(SF_DIR.encode()).hexdigest()[:8])
    if not (out / "oracle_sql.json").exists():
        print(f"[refbaseline] running graft Verify at {SF_DIR} ...")
        sbt("graft.Verify", SF_DIR, str(out), "g")
    con = duckdb.connect()
    counts = {}
    uniq = {"g03_onehop_fwd": "edge_id", "g04_onehop_rev": "edge_id",
            "g05_onehop_open": "edge_id", "g06_onehop_pinned": "edge_id",
            "g07_onehop_multi": "edge_id", "g08_category_hierarchy": "edge_id",
            "g09_predicate_hierarchy": "edge_id", "g10_symmetric": "edge_id",
            "g11_canonical_flip": "edge_id", "g13_subclass_expansion": "edge_id",
            "g15_qualified": "edge_id", "g16_attr_constraint": "edge_id",
            "g14_single_node": "node_id", "g18_get_edges": "edge_id",
            "g19_get_neighbors": "neighbor_id||'|'||input_id"}
    for key, col in uniq.items():
        p = out / key
        if p.exists():
            counts[key] = con.sql(
                f"SELECT count(DISTINCT {col}) FROM read_parquet('{p}/*.parquet')"
            ).fetchone()[0]
    return counts


# ------------------------------------------------------------------ main

def main() -> None:
    ensure_inputs()
    make_sandbox()
    export_tsvs()
    # plover writes diagnostic files (subclass_report.json) into the
    # process CWD — keep them in the sandbox, not the repo (all harness
    # outputs below use absolute REPO paths).
    os.chdir(SANDBOX)

    os.environ["GRAFT_ONTOLOGY_JSON"] = str(ONTOLOGY_JSON)
    sys.path.insert(0, str(SANDBOX / "stubs"))
    # package root: SANDBOX/app contains the `app` package (app/app/...)
    sys.path.insert(0, str(SANDBOX / "app"))
    plover_mod = importlib.import_module("app.plover")

    print("[refbaseline] building reference indexes ...")
    plover = plover_mod.PloverDB(config_file_name="config_graft.json")
    t0 = time.time()
    plover.build_indexes()
    build_sec = time.time() - t0
    t0 = time.time()
    plover.load_indexes()
    load_sec = time.time() - t0
    print(f"[refbaseline] build {build_sec:.2f}s  load {load_sec:.2f}s")

    expected = graft_counts()
    rows = {}
    for key, q in {**TRAPI_QUERIES,
                   **{k: None for k in BATCH_QUERIES}}.items():
        def run():
            if key in BATCH_QUERIES:
                method, args = BATCH_QUERIES[key]
                return getattr(plover, method)(*args)
            return plover.answer_query(json.loads(json.dumps(q)))
        res = run()  # warm-up + size check
        size = answer_size(key, res)
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            run()
            times.append(time.perf_counter() - t0)
        rows[key] = {
            "p50_sec": statistics.median(times),
            "min_sec": min(times),
            "answer_size": size,
            "graft_size": expected.get(key),
            "size_match": expected.get(key) == size,
        }
        flag = "OK " if rows[key]["size_match"] else "MISMATCH"
        print(f"[refbaseline] {key:28s} p50 {rows[key]['p50_sec']*1e3:8.2f} ms  "
              f"size {size} vs graft {expected.get(key)}  {flag}")

    result = {
        "sf": SF_DIR,
        "repeats": REPEATS,
        "engine": "reference PloverDB (plover.py) on exported fixture KGX",
        "build_indexes_sec": round(build_sec, 3),
        "load_indexes_sec": round(load_sec, 3),
        "queries": {k: {kk: (round(vv, 6) if isinstance(vv, float) else vv)
                        for kk, vv in v.items()} for k, v in rows.items()},
    }
    (REPO / "baseline_ref.json").write_text(json.dumps(result, indent=1),
                                            encoding="utf-8")
    write_md(result)
    print("[refbaseline] wrote baseline_ref.json + BASELINE_REF.md")


def graft_bench_p50s() -> dict:
    """Per-key p50 seconds from the most recent committed idle bench
    detail (if present) for the side-by-side column."""
    import glob
    files = sorted(glob.glob(str(REPO / "BENCH_idle_r*_detail.json")))
    if not files:
        return {}
    with open(files[-1], encoding="utf-8") as f:
        return json.load(f).get("queries_p50", {})


def write_md(result: dict) -> None:
    lines = [
        "# BASELINE_REF — the reference engine on the fixture graph",
        "",
        "Measured by `tools/refbaseline.py`: the ACTUAL reference engine",
        "(`/root/reference/app/app/plover.py`) run in-process on this repo's",
        "fixture graph (graph-store parquet exported as KGX TSV), with its",
        "BiolinkHelper backed by the repo's exported fixture ontology and",
        "metrics/HTTP stubs (none touch query semantics; the sandbox raises",
        "on any network use). Latencies are in-process `answer_query` /",
        "batch-method calls — no Flask/uwsgi overhead, which favors the",
        "reference.",
        "",
        f"- corpus: `{result['sf']}`",
        f"- build_indexes: **{result['build_indexes_sec']} s** (paid on every"
        " boot of the reference; the graft twin is the one-time GraphStore"
        " ingest, `build_sec` in BENCH)",
        f"- load_indexes (pickle reload): **{result['load_indexes_sec']} s**"
        " (the reference's warm-start; graft twin is `warm_sec` in BENCH)",
        f"- repeats per query: {result['repeats']} (p50 reported)",
        "",
        "| query key | reference p50 (ms) | min (ms) | graft p50 (ms) | answer size | graft size | sizes match |",
        "|---|---|---|---|---|---|---|",
    ]
    bench = graft_bench_p50s()
    for k, v in sorted(result["queries"].items()):
        g = f"{bench[k]*1e3:.0f}" if k in bench else "—"
        lines.append(
            f"| {k} | {v['p50_sec']*1e3:.2f} | {v['min_sec']*1e3:.2f} | {g} "
            f"| {v['answer_size']} | {v['graft_size']} "
            f"| {'yes' if v['size_match'] else 'NO'} |")
    lines += [
        "",
        "Comparison notes:",
        "- answer sizes are distinct edges (nodes for g14; pair-edges for",
        "  g18; input-neighbor pairs for g19) cross-checked against the",
        "  Spark engine's Verify dumps at the same scale factor — a match",
        "  means both engines computed the same answer set.",
        "- the graft column is the committed idle-bench p50 at the same sf",
        "  (Spark local[32]); blank where the bench has no such key.",
        "- read the per-query columns with the engines' cost models in",
        "  mind. The reference is a single-threaded in-memory hashmap: its",
        "  point-lookup latency is microseconds-to-milliseconds and grows",
        "  with ANSWER size, but it pays its full build on EVERY boot",
        "  (build+load above) and its whole graph must fit one process's",
        "  RAM — the architecture does not reach 100 TB at all. Every",
        "  graft query pays a roughly constant ~0.3-1 s of Spark planning",
        "  + scheduling regardless of data size, then scan cost that",
        "  parallelizes; startup is a columnar scan of the pre-built",
        "  store (build_sec 0 steady-state, warm_sec ~5 s at sf0.1). So",
        "  at fixture scale the reference wins small point lookups by",
        "  its fixed-overhead advantage, the gap narrows to ~3x on",
        "  scan-heavy queries (g05, g16) and already flips on the",
        "  subclass-expansion scan (g13), and past single-node RAM only",
        "  the scan-based engine exists.",
    ]
    (REPO / "BASELINE_REF.md").write_text("\n".join(lines) + "\n",
                                          encoding="utf-8")


if __name__ == "__main__":
    main()
