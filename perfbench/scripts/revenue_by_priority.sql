SELECT $KEY AS "group", COUNT(*) AS n, SUM(l_extendedprice) AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity < $MAXQTY
GROUP BY $KEY
