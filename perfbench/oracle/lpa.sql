WITH nodes AS (
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
und AS (SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed)),
l0 AS (SELECT id, id AS community FROM nodes),
c1 AS (SELECT u.src AS id, l.community, count(*) AS c
  FROM und u JOIN l0 l ON l.id = u.dst GROUP BY 1, 2),
b1 AS (SELECT id, community FROM (
  SELECT id, community,
    row_number() OVER (PARTITION BY id ORDER BY c DESC, community) AS rn
  FROM c1) WHERE rn = 1),
l1 AS (SELECT n.id, coalesce(b.community, n.community) AS community
  FROM l0 n LEFT JOIN b1 b ON b.id = n.id),
c2 AS (SELECT u.src AS id, l.community, count(*) AS c
  FROM und u JOIN l1 l ON l.id = u.dst GROUP BY 1, 2),
b2 AS (SELECT id, community FROM (
  SELECT id, community,
    row_number() OVER (PARTITION BY id ORDER BY c DESC, community) AS rn
  FROM c2) WHERE rn = 1),
l2 AS (SELECT n.id, coalesce(b.community, n.community) AS community
  FROM l1 n LEFT JOIN b2 b ON b.id = n.id),
c3 AS (SELECT u.src AS id, l.community, count(*) AS c
  FROM und u JOIN l2 l ON l.id = u.dst GROUP BY 1, 2),
b3 AS (SELECT id, community FROM (
  SELECT id, community,
    row_number() OVER (PARTITION BY id ORDER BY c DESC, community) AS rn
  FROM c3) WHERE rn = 1),
l3 AS (SELECT n.id, coalesce(b.community, n.community) AS community
  FROM l2 n LEFT JOIN b3 b ON b.id = n.id)
SELECT sz, count(*) AS n_communities FROM (
  SELECT community, count(*) AS sz FROM l3 GROUP BY 1)
GROUP BY 1 ORDER BY sz DESC LIMIT 10
