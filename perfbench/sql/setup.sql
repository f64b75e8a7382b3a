-- Creates the mart tables the daily scripts maintain (run once per run).
CREATE TABLE `crm.mart.customer_profile` (
  customer_id INT64, n_orders INT64, revenue FLOAT64,
  first_day INT64, last_day INT64, tier STRING
);
CREATE TABLE `crm.mart.engagement` (
  customer_id INT64, sessions INT64, pages INT64, seconds INT64, last_day INT64
);
CREATE TABLE `crm.mart.engagement_recent` (day INT64, customer_id INT64, sessions INT64);
CREATE TABLE `crm.mart.load_log` (day INT64, source STRING, n_rows INT64);
CREATE TABLE `crm.mart.session_log` (day INT64, n_sessions INT64);
CREATE TABLE `crm.mart.region_stats` (day INT64, region STRING, customers INT64, revenue FLOAT64);
