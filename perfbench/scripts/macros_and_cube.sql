SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM lineitem
WHERE l_quantity >= $MINQTY
GROUP BY CUBE (l_returnflag, l_linestatus)
