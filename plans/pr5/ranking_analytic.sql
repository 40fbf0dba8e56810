SELECT c_custkey, c_nationkey, rnk, drnk
    FROM (
      SELECT c_custkey, c_nationkey,
             CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
             CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ) t
    WHERE rnk <= 10
