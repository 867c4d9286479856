WITH nodes AS MATERIALIZED (
  SELECT 1*281474976710656 + r_regionkey AS id FROM region
  UNION ALL SELECT 2*281474976710656 + n_nationkey FROM nation
  UNION ALL SELECT 3*281474976710656 + c_custkey FROM customer
  UNION ALL SELECT 4*281474976710656 + s_suppkey FROM supplier
  UNION ALL SELECT 5*281474976710656 + p_partkey FROM part
  UNION ALL SELECT 6*281474976710656 + o_orderkey FROM orders),
ed AS (
  SELECT 2*281474976710656 + n_nationkey AS src, 1*281474976710656 + n_regionkey AS dst FROM nation
  UNION ALL SELECT 3*281474976710656 + c_custkey, 2*281474976710656 + c_nationkey FROM customer
  UNION ALL SELECT 4*281474976710656 + s_suppkey, 2*281474976710656 + s_nationkey FROM supplier
  UNION ALL SELECT 3*281474976710656 + o_custkey, 6*281474976710656 + o_orderkey FROM orders
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 5*281474976710656 + l_partkey FROM lineitem
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 4*281474976710656 + l_suppkey FROM lineitem),
od AS (SELECT src, count(*) AS od FROM ed GROUP BY 1),
ew AS MATERIALIZED (SELECT ed.src, ed.dst, 1.0 / od.od AS w
  FROM ed JOIN od ON od.src = ed.src),
pr0 AS MATERIALIZED (SELECT id,
  CASE WHEN id = {source_gid} THEN 0.15 ELSE 0.0 END AS rank FROM nodes),
pr1 AS MATERIALIZED (SELECT n.id,
    (CASE WHEN n.id = {source_gid} THEN 0.15 ELSE 0.0 END)
      + (1.0 - 0.15) * coalesce(s.v, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ew.dst AS id, sum(p.rank * ew.w) AS v
    FROM ew JOIN pr0 p ON p.id = ew.src GROUP BY 1) s
  ON s.id = n.id),
pr2 AS MATERIALIZED (SELECT n.id,
    (CASE WHEN n.id = {source_gid} THEN 0.15 ELSE 0.0 END)
      + (1.0 - 0.15) * coalesce(s.v, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ew.dst AS id, sum(p.rank * ew.w) AS v
    FROM ew JOIN pr1 p ON p.id = ew.src GROUP BY 1) s
  ON s.id = n.id),
pr3 AS MATERIALIZED (SELECT n.id,
    (CASE WHEN n.id = {source_gid} THEN 0.15 ELSE 0.0 END)
      + (1.0 - 0.15) * coalesce(s.v, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ew.dst AS id, sum(p.rank * ew.w) AS v
    FROM ew JOIN pr2 p ON p.id = ew.src GROUP BY 1) s
  ON s.id = n.id),
pr4 AS MATERIALIZED (SELECT n.id,
    (CASE WHEN n.id = {source_gid} THEN 0.15 ELSE 0.0 END)
      + (1.0 - 0.15) * coalesce(s.v, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ew.dst AS id, sum(p.rank * ew.w) AS v
    FROM ew JOIN pr3 p ON p.id = ew.src GROUP BY 1) s
  ON s.id = n.id)
SELECT id, round(rank, 8) AS rank FROM pr4
ORDER BY rank DESC, id LIMIT 5
