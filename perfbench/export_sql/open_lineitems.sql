-- Open line items for the fulfilment sheet
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount
FROM lineitem
WHERE l_linestatus = 'O'
