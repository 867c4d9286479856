WITH nodes AS MATERIALIZED (
  SELECT 1*281474976710656 + r_regionkey AS id FROM region
  UNION ALL SELECT 2*281474976710656 + n_nationkey FROM nation
  UNION ALL SELECT 3*281474976710656 + c_custkey FROM customer
  UNION ALL SELECT 4*281474976710656 + s_suppkey FROM supplier
  UNION ALL SELECT 5*281474976710656 + p_partkey FROM part
  UNION ALL SELECT 6*281474976710656 + o_orderkey FROM orders),
ed AS MATERIALIZED (
  SELECT 2*281474976710656 + n_nationkey AS src, 1*281474976710656 + n_regionkey AS dst FROM nation
  UNION ALL SELECT 3*281474976710656 + c_custkey, 2*281474976710656 + c_nationkey FROM customer
  UNION ALL SELECT 4*281474976710656 + s_suppkey, 2*281474976710656 + s_nationkey FROM supplier
  UNION ALL SELECT 3*281474976710656 + o_custkey, 6*281474976710656 + o_orderkey FROM orders
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 5*281474976710656 + l_partkey FROM lineitem
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 4*281474976710656 + l_suppkey FROM lineitem),
h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
ar1 AS MATERIALIZED (SELECT ed.dst AS id, sum(h.hub) AS s
  FROM ed JOIN h0 h ON h.id = ed.src GROUP BY 1),
a1 AS MATERIALIZED (SELECT n.id, coalesce(ar.s, 0) / (SELECT sum(s) FROM ar1) AS auth
  FROM nodes n LEFT JOIN ar1 ar ON ar.id = n.id),
hr1 AS MATERIALIZED (SELECT ed.src AS id, sum(a.auth) AS s
  FROM ed JOIN a1 a ON a.id = ed.dst GROUP BY 1),
h1 AS MATERIALIZED (SELECT n.id, coalesce(hr.s, 0) / (SELECT sum(s) FROM hr1) AS hub
  FROM nodes n LEFT JOIN hr1 hr ON hr.id = n.id),
ar2 AS MATERIALIZED (SELECT ed.dst AS id, sum(h.hub) AS s
  FROM ed JOIN h1 h ON h.id = ed.src GROUP BY 1),
a2 AS MATERIALIZED (SELECT n.id, coalesce(ar.s, 0) / (SELECT sum(s) FROM ar2) AS auth
  FROM nodes n LEFT JOIN ar2 ar ON ar.id = n.id),
hr2 AS MATERIALIZED (SELECT ed.src AS id, sum(a.auth) AS s
  FROM ed JOIN a2 a ON a.id = ed.dst GROUP BY 1),
h2 AS MATERIALIZED (SELECT n.id, coalesce(hr.s, 0) / (SELECT sum(s) FROM hr2) AS hub
  FROM nodes n LEFT JOIN hr2 hr ON hr.id = n.id),
ar3 AS MATERIALIZED (SELECT ed.dst AS id, sum(h.hub) AS s
  FROM ed JOIN h2 h ON h.id = ed.src GROUP BY 1),
a3 AS MATERIALIZED (SELECT n.id, coalesce(ar.s, 0) / (SELECT sum(s) FROM ar3) AS auth
  FROM nodes n LEFT JOIN ar3 ar ON ar.id = n.id),
hr3 AS MATERIALIZED (SELECT ed.src AS id, sum(a.auth) AS s
  FROM ed JOIN a3 a ON a.id = ed.dst GROUP BY 1),
h3 AS MATERIALIZED (SELECT n.id, coalesce(hr.s, 0) / (SELECT sum(s) FROM hr3) AS hub
  FROM nodes n LEFT JOIN hr3 hr ON hr.id = n.id),
ar4 AS MATERIALIZED (SELECT ed.dst AS id, sum(h.hub) AS s
  FROM ed JOIN h3 h ON h.id = ed.src GROUP BY 1),
a4 AS MATERIALIZED (SELECT n.id, coalesce(ar.s, 0) / (SELECT sum(s) FROM ar4) AS auth
  FROM nodes n LEFT JOIN ar4 ar ON ar.id = n.id),
hr4 AS MATERIALIZED (SELECT ed.src AS id, sum(a.auth) AS s
  FROM ed JOIN a4 a ON a.id = ed.dst GROUP BY 1),
h4 AS MATERIALIZED (SELECT n.id, coalesce(hr.s, 0) / (SELECT sum(s) FROM hr4) AS hub
  FROM nodes n LEFT JOIN hr4 hr ON hr.id = n.id)
SELECT a.id, round(a.auth, 6) AS auth, round(h.hub, 8) AS hub
FROM a4 a JOIN h4 h ON h.id = a.id
ORDER BY auth DESC, a.id LIMIT 5
