-- Returned items for the claims sheet
SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice, l_returnflag
FROM lineitem
WHERE l_returnflag = 'R'
