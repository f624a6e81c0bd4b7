SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'all' ELSE l_returnflag END AS l_returnflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'all' ELSE l_linestatus END AS l_linestatus,
       COUNT(*) AS n,
       SUM(l_extendedprice * (1.0 - l_discount)) AS net_total
FROM lineitem
WHERE l_quantity < $MAXQTY
GROUP BY CUBE (l_returnflag, l_linestatus)
