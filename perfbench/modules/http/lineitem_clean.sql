{{ sink(name="lineitem_clean") }}
SELECT
    row_id,
    l_orderkey,
    l_partkey,
    l_suppkey,
    l_linenumber,
    l_quantity,
    l_extendedprice,
    l_discount,
    l_tax,
    l_extendedprice * (1 - l_discount) AS disc_price,
    l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
    l_returnflag,
    l_linestatus,
    CAST(l_shipdate AS DATE) AS ship_date
FROM {{ use_source("lineitem_api") }}
WHERE l_returnflag <> 'R'
