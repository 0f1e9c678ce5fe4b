-- Discounted line items with part names
SELECT l.l_orderkey, p.p_name, p.p_brand, l.l_quantity, l.l_discount
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_discount >= 0.05
