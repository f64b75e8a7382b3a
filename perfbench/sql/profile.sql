-- Branch A: fold one day of orders into the cumulative customer profile.
DECLARE run_day INT64 DEFAULT {{ day }};
DECLARE day_order_count INT64 DEFAULT 0;
DECLARE n_new INT64 DEFAULT 0;
CREATE TEMP TABLE day_orders AS
  SELECT customer_id, COUNT(*) AS n, SUM(amount) AS revenue, MAX(day) AS last_day
  FROM `crm.raw.orders`
  WHERE day = run_day
  GROUP BY customer_id;
SET day_order_count = (SELECT COALESCE(SUM(n), 0) FROM day_orders);
SET n_new = (
  SELECT COUNT(*) FROM day_orders d
  WHERE d.customer_id NOT IN (SELECT customer_id FROM `crm.mart.customer_profile`)
);
MERGE `crm.mart.customer_profile` T
USING day_orders S
ON T.customer_id = S.customer_id
WHEN MATCHED THEN UPDATE SET
  n_orders = T.n_orders + S.n,
  revenue = ROUND(T.revenue + S.revenue, 2),
  last_day = S.last_day
WHEN NOT MATCHED THEN INSERT (customer_id, n_orders, revenue, first_day, last_day, tier)
  VALUES (S.customer_id, S.n, ROUND(S.revenue, 2), S.last_day, S.last_day, 'bronze');
UPDATE `crm.mart.customer_profile`
SET tier = CASE
  WHEN revenue >= 400 THEN 'gold'
  WHEN revenue >= 150 THEN 'silver'
  ELSE 'bronze' END
WHERE last_day = run_day;
IF day_order_count > 0 THEN
  INSERT INTO `crm.mart.load_log` (day, source, n_rows) VALUES (run_day, 'orders', day_order_count);
END IF;
IF n_new > 0 THEN
  INSERT INTO `crm.mart.load_log` (day, source, n_rows) VALUES (run_day, 'new_customers', n_new);
ELSE
  INSERT INTO `crm.mart.load_log` (day, source, n_rows) VALUES (run_day, 'new_customers', 0);
END IF;
