WITH ed AS (
  SELECT 2*281474976710656 + n_nationkey AS src, 1*281474976710656 + n_regionkey AS dst FROM nation
  UNION ALL SELECT 3*281474976710656 + c_custkey, 2*281474976710656 + c_nationkey FROM customer
  UNION ALL SELECT 4*281474976710656 + s_suppkey, 2*281474976710656 + s_nationkey FROM supplier
  UNION ALL SELECT 3*281474976710656 + o_custkey, 6*281474976710656 + o_orderkey FROM orders
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 5*281474976710656 + l_partkey FROM lineitem
  UNION ALL SELECT 6*281474976710656 + l_orderkey, 4*281474976710656 + l_suppkey FROM lineitem),
und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM ed
   UNION ALL SELECT dst AS src, src AS dst FROM ed)
  WHERE src <> dst),
deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
mids AS MATERIALIZED (SELECT u.src AS mid, u.dst AS leaf
  FROM und u JOIN deg d ON d.v = u.src AND d.deg <= 64),
pairs AS (SELECT x.leaf AS id_a, y.leaf AS id_b, count(*) AS common
  FROM mids x JOIN mids y ON x.mid = y.mid AND x.leaf < y.leaf
  GROUP BY 1, 2),
scored AS (SELECT common,
    common / (da.deg + db.deg - common) AS jaccard
  FROM pairs JOIN deg da ON da.v = id_a JOIN deg db ON db.v = id_b
  WHERE common / (da.deg + db.deg - common) >= 0.5)
SELECT count(*) AS n_pairs, CAST(sum(common) AS BIGINT) AS sum_common,
  round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j
FROM scored
