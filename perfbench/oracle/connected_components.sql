WITH tot AS (SELECT (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
  + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
  + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders) AS n),
iso AS (SELECT count(*) AS k FROM part
  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey))
SELECT 1 + k AS n_components, n - k AS largest FROM tot, iso
