WITH classified AS (
  SELECT o_orderkey,
         CAST(trunc(o_totalprice * 100.0) AS BIGINT) AS cents,
         CASE WHEN o_totalprice > $BIG THEN 'big'
              WHEN o_totalprice > $MID THEN 'mid'
              ELSE 'small' END AS bucket
  FROM orders
)
SELECT bucket, COUNT(*) AS n_lines, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM lineitem JOIN classified ON l_orderkey = o_orderkey
GROUP BY bucket
