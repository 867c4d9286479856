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
nbr AS (SELECT src AS v, dst AS t,
  row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM und),
deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
s0 AS (SELECT id AS walker, id AS v FROM nodes),
s1 AS (SELECT s.walker, n.t AS v FROM s0 s
  JOIN deg d ON d.v = s.v
  JOIN nbr n ON n.v = s.v AND n.idx =
    CAST(concat('0x', substr(md5(concat('walk:', s.walker, ':', 1, ':', s.v)), 1, 15)) AS BIGINT) % d.deg),
s2 AS (SELECT s.walker, n.t AS v FROM s1 s
  JOIN deg d ON d.v = s.v
  JOIN nbr n ON n.v = s.v AND n.idx =
    CAST(concat('0x', substr(md5(concat('walk:', s.walker, ':', 2, ':', s.v)), 1, 15)) AS BIGINT) % d.deg),
s3 AS (SELECT s.walker, n.t AS v FROM s2 s
  JOIN deg d ON d.v = s.v
  JOIN nbr n ON n.v = s.v AND n.idx =
    CAST(concat('0x', substr(md5(concat('walk:', s.walker, ':', 3, ':', s.v)), 1, 15)) AS BIGINT) % d.deg),
s4 AS (SELECT s.walker, n.t AS v FROM s3 s
  JOIN deg d ON d.v = s.v
  JOIN nbr n ON n.v = s.v AND n.idx =
    CAST(concat('0x', substr(md5(concat('walk:', s.walker, ':', 4, ':', s.v)), 1, 15)) AS BIGINT) % d.deg)
SELECT v // 281474976710656 AS label_id, count(*) AS n FROM s4
GROUP BY 1 ORDER BY 1
