-- After both branches: rebuild segments and the audience table.
DECLARE run_day INT64 DEFAULT {{ day }};
DECLARE i INT64 DEFAULT 0;
DECLARE region_name STRING DEFAULT '';
DECLARE n_jobs INT64 DEFAULT 0;
CREATE OR REPLACE TABLE `crm.mart.segments` AS
SELECT
  p.customer_id,
  c.region,
  p.tier,
  CASE
    WHEN COALESCE(r.recent_sessions, 0) >= 3 THEN 'active'
    WHEN COALESCE(r.recent_sessions, 0) >= 1 THEN 'warm'
    ELSE 'lapsed' END AS engagement,
  CONCAT(c.region, '_', p.tier) AS segment
FROM `crm.mart.customer_profile` p
JOIN `crm.raw.customers` c ON c.customer_id = p.customer_id
LEFT JOIN (
  SELECT customer_id, SUM(sessions) AS recent_sessions
  FROM `crm.mart.engagement_recent`
  GROUP BY customer_id
) r ON r.customer_id = p.customer_id;
DELETE FROM `crm.mart.region_stats` WHERE day = run_day;
WHILE i < 4 DO
  SET region_name = CASE i WHEN 0 THEN 'north' WHEN 1 THEN 'south' WHEN 2 THEN 'east' ELSE 'west' END;
  INSERT INTO `crm.mart.region_stats` (day, region, customers, revenue)
    SELECT run_day, region_name, COUNT(*), ROUND(COALESCE(SUM(p.revenue), 0), 2)
    FROM `crm.mart.segments` s
    JOIN `crm.mart.customer_profile` p ON p.customer_id = s.customer_id
    WHERE s.region = region_name;
  SET i = i + 1;
END WHILE;
CREATE OR REPLACE TABLE `crm.mart.audiences` AS
SELECT
  CONCAT('aud_', segment) AS name,
  segment,
  COUNT(*) AS members,
  SUM(CASE WHEN engagement = 'active' THEN 1 ELSE 0 END) AS active_members
FROM `crm.mart.segments`
GROUP BY segment;
SET n_jobs = (SELECT COUNT(*) FROM `crm.mart.INFORMATION_SCHEMA.JOBS` WHERE state = 'DONE');
INSERT INTO `crm.mart.load_log` (day, source, n_rows) VALUES (run_day, 'jobs_seen', n_jobs);
