-- Branch B: fold one day of web sessions into engagement, keep a 7-day window.
-- It writes no table branch A writes: the branches run at the same time.
DECLARE run_day INT64 DEFAULT {{ day }};
DECLARE day_session_count INT64 DEFAULT 0;
CREATE TEMP TABLE day_sessions AS
  SELECT customer_id, COUNT(*) AS sessions, SUM(pages) AS pages, SUM(seconds) AS seconds
  FROM `crm.raw.sessions`
  WHERE day = run_day
  GROUP BY customer_id;
SET day_session_count = (SELECT COALESCE(SUM(sessions), 0) FROM day_sessions);
MERGE `crm.mart.engagement` T
USING day_sessions S
ON T.customer_id = S.customer_id
WHEN MATCHED THEN UPDATE SET
  sessions = T.sessions + S.sessions,
  pages = T.pages + S.pages,
  seconds = T.seconds + S.seconds,
  last_day = run_day
WHEN NOT MATCHED THEN INSERT (customer_id, sessions, pages, seconds, last_day)
  VALUES (S.customer_id, S.sessions, S.pages, S.seconds, run_day);
DELETE FROM `crm.mart.engagement_recent` WHERE day <= run_day - 7;
INSERT INTO `crm.mart.engagement_recent` (day, customer_id, sessions)
  SELECT run_day, customer_id, sessions FROM day_sessions;
INSERT INTO `crm.mart.session_log` (day, n_sessions) VALUES (run_day, day_session_count);
