SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(l_linenumber AS VARCHAR) AS ln
FROM lineitem
WHERE l_quantity >= $MINQTY
