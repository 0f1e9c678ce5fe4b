-- Large orders with their customer
SELECT c.c_name, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 250000
