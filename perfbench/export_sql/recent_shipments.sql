-- Shipments since 1998
SELECT l_suppkey, l_partkey, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= DATE '1998-01-01'
