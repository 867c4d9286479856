"""Seeded operation plans for the benchmark's workloads.

A plan is a warm-up round plus the measured rounds. Every round holds
each of the workload's templates once, in a fixed order (graph_write
places its two reads at seed-chosen points), with seed-chosen
parameters, so runs of one workload differ in parameters but never in
mix. A seed-shuffled order moved the first-execution costs between
templates from run to run. The program only sees the Cypher
text and parameters (or the pipeline operator name and its slice); the
expectations (`oracle`, `expect`) stay on the checker's side.
"""
import os
import random

from . import datagen

WORKLOADS = ["graph_write", "graph_analytics"]
# the share of --seconds one measured round stands for: a run measures
# round(seconds / ROUND_SECONDS) whole rounds, at least one. A round takes
# 10-16 s on a 4-core box and a run's fixed cost (JVM, set-up, warm-up
# round) 25-35 s, so the default 10 s gives one round and a run under a
# minute.
ROUND_SECONDS = 10.0

ORACLE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "oracle")
LABEL_STRIDE = 1 << 48
CUSTOMER_L = 3
REGION_L = 1


class Facts:
    """What the plan generator needs to know about the generated data."""

    def __init__(self, con):
        q = lambda sql: [r for r in con.execute(sql).fetchall()]
        self.customers_with_orders = [r[0] for r in q(
            "SELECT c_custkey FROM customer WHERE c_custkey IN "
            "(SELECT o_custkey FROM orders) ORDER BY 1")]
        self.acctbal = dict(q("SELECT c_custkey, c_acctbal FROM customer"))
        self.nations = [r[0] for r in q("SELECT n_name FROM nation ORDER BY 1")]
        self.regions = [r[0] for r in q("SELECT r_name FROM region ORDER BY 1")]
        self.priorities = {}
        for k, p in q("SELECT DISTINCT o_custkey, o_orderpriority FROM orders"):
            self.priorities.setdefault(k, set()).add(p)
        self.n_customers = q("SELECT count(*) FROM customer")[0][0]


def _sql(name):
    with open(os.path.join(ORACLE_DIR, name + ".sql")) as f:
        return f.read()


# ------------------------------------------------------------ graph_analytics

def _gid(label, key):
    return label * LABEL_STRIDE + key


def _analytics_round(rng, facts, next_id):
    region = rng.randrange(len(facts.regions))
    src = rng.choice(facts.customers_with_orders)
    calls = {
        # PageRank per vertex label: count, rank sum and top rank, so a
        # wrong rank anywhere in the graph changes the result
        "pagerank": ("CALL pagerank() YIELD id, rank "
                     "WITH id / 281474976710656 AS label_id, rank "
                     "RETURN label_id, count(*) AS n, round(sum(rank), 4) AS total, "
                     "round(max(rank), 6) AS top ORDER BY label_id", {}),
        "connected_components": ("CALL connected_components() YIELD id, component "
                                 "WITH component, count(*) AS sz "
                                 "RETURN count(*) AS n_components, max(sz) AS largest", {}),
        "sssp": ("CALL sssp(%d) YIELD id, dist RETURN dist, count(*) AS n"
                 % _gid(REGION_L, region), {"{region}": str(region)}),
        "hits": ("CALL hits(4) YIELD id, hub, auth RETURN id, round(auth, 6) AS auth, "
                 "round(hub, 8) AS hub ORDER BY auth DESC, id LIMIT 5", {}),
        "ppr": ("CALL ppr(%d, 0.15, 4) YIELD id, rank RETURN id, round(rank, 8) AS rank "
                "ORDER BY rank DESC, id LIMIT 5" % _gid(CUSTOMER_L, src),
                {"{source_gid}": str(_gid(CUSTOMER_L, src))}),
        "lpa": ("CALL label_propagation(3) YIELD id, community "
                "WITH community, count(*) AS sz RETURN sz, count(*) AS n_communities "
                "ORDER BY sz DESC LIMIT 10", {}),
        "jaccard_t": ("CALL jaccard_similarity(64, 0.5) YIELD id_a, id_b, common, jaccard "
                      "RETURN count(*) AS n_pairs, sum(common) AS sum_common, "
                      "round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j", {}),
        "walks": ("CALL random_walks(4) YIELD walker, dest "
                  "WITH dest / 281474976710656 AS label_id "
                  "RETURN label_id, count(*) AS n ORDER BY label_id", {}),
    }
    ops = []
    for name, (cypher, subst) in calls.items():
        sql = _sql(name)
        for k, v in subst.items():
            sql = sql.replace(k, v)
        ops.append({"id": next_id(), "kind": "cypher", "template": name,
                    "cypher": cypher, "params": {}, "oracle": sql})
    # near-duplicate document clusters: connected components over the
    # MinHash-LSH pair graph, built by the graft.pipeline operators
    ops.append({"id": next_id(), "kind": "pipeline", "template": "dup_clusters",
                "args": {"slice": rng.randrange(4)}, "oracle": _sql("dup_clusters")})
    return ops


# ---------------------------------------------------------------- graph_write

CUSTOMER_CHECK = "MATCH (c:Customer {name: $name}) RETURN count(*) AS n, max(c.acctbal) AS acctbal"
VIP_CHECK = "MATCH (c:Customer {name: $name}) RETURN c.vip AS vip"
COMMIT_CHECK = "MATCH (c:Customer) RETURN count(*) AS customers, count(c.vip) AS vips"


def _write_round(rng, facts, next_id, r, seed, state):
    """One round of write statements with read-your-writes reads and a
    closing commit. `state` carries the expected-state model across
    rounds: customer count, VIP set, priority tags, balances."""
    def bal():
        return round(rng.uniform(0.0, 9999.0), 2)
    def existing():
        return rng.choice(facts.customers_with_orders)
    fresh = "Bench#%d-%d-" % (seed, r)
    ops = []
    # two read-your-writes reads go after seed-chosen write statements;
    # each expects the model state at its position
    read_after = set(rng.sample(range(7), 2))

    def op(template, cypher, params, verify, expect):
        ops.append({"id": next_id(), "kind": "write", "template": template,
                    "cypher": cypher, "params": params, "verify": verify,
                    "expect": expect})
        if len(ops) - 1 - sum(o["template"] == "read" for o in ops) in read_after:
            k = rng.choice(list(state["acctbal"]) or facts.customers_with_orders)
            ops.append({"id": next_id(), "kind": "write", "template": "read",
                        "cypher": "MATCH (c:Customer {name: $name}) "
                                  "RETURN c.acctbal AS acctbal, c.vip AS vip",
                        "params": {"name": datagen.customer_name(k)},
                        "expect": [[state["acctbal"].get(k, facts.acctbal[k]),
                                    True if k in state["vips"] else None]]})

    created = fresh + "c"
    b = bal()
    state["customers"] += 1
    op("create", "MATCH (n:Nation {name: $nation}) CREATE (c:Customer {name: $name, "
       "acctbal: $bal, mktsegment: 'BENCH'})-[:FROM_NATION]->(n)",
       {"name": created, "bal": b, "nation": rng.choice(facts.nations)},
       CUSTOMER_CHECK, [[1, b]])

    k = existing()
    b = bal()
    state["acctbal"][k] = b
    op("merge_match", "MERGE (c:Customer {name: $name}) ON MATCH SET c.acctbal = $bal",
       {"name": datagen.customer_name(k), "bal": b}, CUSTOMER_CHECK, [[1, b]])

    b = bal()
    state["customers"] += 1
    op("merge_create", "MERGE (c:Customer {name: $name}) ON CREATE SET c.acctbal = $bal",
       {"name": fresh + "m", "bal": b}, CUSTOMER_CHECK, [[1, b]])

    # the round number in the MERGE key makes every round take the create
    # arm; keyed on the priority alone, a round created tags or not
    # depending on which priorities earlier rounds had seen, and the two
    # arms differ 2-3x in cost
    k2 = existing()
    state["tags"] |= {(p, r) for p in facts.priorities.get(k2, set())}
    op("merge_datadriven", "MATCH (c:Customer {name: $name})-[:PLACED]->(o:Order) "
       "WITH DISTINCT o.orderpriority AS pr MERGE (t:Priority {name: pr, round: $round})",
       {"name": datagen.customer_name(k2), "round": r},
       "MATCH (t:Priority) RETURN t.name AS name, t.round AS round",
       [list(t) for t in sorted(state["tags"])])

    vip = existing()
    state["vips"].add(vip)
    op("set", "MATCH (c:Customer {name: $name}) SET c.vip = true",
       {"name": datagen.customer_name(vip)}, VIP_CHECK, [[True]])

    # remove the VIP flag set one round earlier (this round's in round 0)
    unvip = state["last_vip"] if state["last_vip"] is not None else vip
    state["vips"].discard(unvip)
    state["last_vip"] = vip
    op("remove", "MATCH (c:Customer {name: $name}) REMOVE c.vip",
       {"name": datagen.customer_name(unvip)}, VIP_CHECK, [[None]])

    state["customers"] -= 1
    op("detach_delete", "MATCH (c:Customer {name: $name}) DETACH DELETE c",
       {"name": created}, CUSTOMER_CHECK, [[0, None]])
    ops.append({"id": next_id(), "kind": "commit", "template": "commit",
                "verify_committed": COMMIT_CHECK,
                "expect": [[state["customers"], len(state["vips"])]]})
    return ops


# --------------------------------------------------------------------- plans

def measured_rounds(seconds, trace):
    """Whole rounds a run measures: about `seconds` of work; a traced run
    needs one traced and one untraced round at least."""
    n = max(1, int(round(seconds / ROUND_SECONDS)))
    return max(2, n) if trace else n


def plan(workload, seed, facts, rounds):
    """Return {"warm": [...], "rounds": [[...], ...]} for one run: one
    untimed warm-up round, then `rounds` measured rounds. Write rounds
    build on each other's state, so the warm-up round runs against the
    measured store too and the expectations of later rounds include it."""
    rng = random.Random("%s:%d" % (workload, seed))
    counter = iter(range(1, 10 ** 9))
    next_id = lambda: next(counter)
    out = []
    if workload == "graph_write":
        state = {"customers": facts.n_customers, "vips": set(), "last_vip": None,
                 "tags": set(), "acctbal": {}}
        for r in range(rounds + 1):
            out.append(_write_round(rng, facts, next_id, r, seed, state))
    else:
        for _ in range(rounds + 1):
            out.append(_analytics_round(rng, facts, next_id))
    return {"warm": out[0], "rounds": out[1:]}
