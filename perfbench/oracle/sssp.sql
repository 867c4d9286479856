WITH o3 AS (SELECT DISTINCT l_orderkey AS ok FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = {region})
SELECT dist, n FROM (
  SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n
  UNION ALL
  SELECT 1, count(*) FROM nation WHERE n_regionkey = {region}
  UNION ALL
  SELECT 2,
    (SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey
     WHERE n_regionkey = {region}) +
    (SELECT count(*) FROM supplier JOIN nation ON s_nationkey = n_nationkey
     WHERE n_regionkey = {region})
  UNION ALL
  SELECT 3, (SELECT count(*) FROM o3)
  UNION ALL
  SELECT 4, (SELECT count(DISTINCT o_custkey) FROM orders
    JOIN o3 ON o_orderkey = ok
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey <> {region}))
ORDER BY dist
