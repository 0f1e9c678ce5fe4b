-- Every line item against every region: over the 2M-cell sheet cap,
-- so the runner must report it as cell_limit and publish nothing
SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
       l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus,
       l.l_shipdate, r.r_name
FROM lineitem l
CROSS JOIN region r
