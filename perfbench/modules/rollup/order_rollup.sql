{{ sink(name="order_rollup") }}
SELECT
    l_orderkey,
    COUNT(*) AS n_lines,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18, 2))) AS DECIMAL(18, 2)) AS quantity,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DECIMAL(18, 2)) AS gross,
    MAX(l_discount) AS max_discount,
    SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS n_filled
FROM {{ use_source("warehouse_lineitem") }}
GROUP BY l_orderkey
