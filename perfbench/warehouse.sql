-- perfbench warehouse_sql: analyst and validation reads of the warehouse
-- etl_nightly writes, in the MySQL dialect ValidationCorpus translates.
-- Rows with check_name + violations are validation checks (0 = pass);
-- columns named expect_<key> must equal the generator's planted totals;
-- (table_name, table_rows) rows must equal the planted row counts.

SET @MIN_BMI = 10;
SET @MAX_BMI = 60;
SET @WEEK_FROM = 20160320;
SET @WEEK_TO = 20160326;
SET @TOP_N = 3;

-- catalog: every table with its row count
SELECT table_name, table_rows
FROM information_schema.tables
WHERE table_schema = DATABASE()
ORDER BY table_name;

-- primary keys
SELECT 'PK CHECK dim_user.UserKey' AS check_name,
       COUNT(*) - COUNT(DISTINCT UserKey) AS violations
FROM dim_user;

-- orphans
SELECT 'ORPHAN fact_workoutsession.UserKey' AS check_name,
       COUNT(*) AS orphan_count
FROM fact_workoutsession f
LEFT JOIN dim_user u ON f.UserKey = u.UserKey
WHERE u.UserKey IS NULL;

SELECT 'ORPHAN fact_healthmetric.MetricTypeKey' AS check_name,
       COUNT(*) AS orphan_count
FROM fact_healthmetric f
LEFT JOIN dim_metrictype m ON f.MetricTypeKey = m.MetricTypeKey
WHERE m.MetricTypeKey IS NULL;

-- nulls
SELECT 'NULL VIOL fact_usersnapshot.GoalKey' AS check_name,
       SUM(CASE WHEN GoalKey IS NULL THEN 1 ELSE 0 END) AS violations
FROM fact_usersnapshot;

-- ranges
SELECT 'RANGE fact_usersnapshot.BMI' AS check_name, COUNT(*) AS violations
FROM fact_usersnapshot
WHERE BMI IS NOT NULL AND (BMI <= @MIN_BMI OR BMI >= @MAX_BMI);

-- planted totals
SELECT SUM(TotalSteps) AS expect_active_steps
FROM fact_workoutsession;

SELECT SUM(Calories) AS expect_hourly_calories,
       COUNT(DISTINCT UserKey) AS expect_fitbit_users
FROM fact_hourlyactivity;

SELECT SUM(CASE WHEN m.MetricName = 'heart_rate' THEN 1 ELSE 0 END)
         AS expect_heart_rate_days,
       SUM(CASE WHEN m.MetricName = 'sleep' THEN 1 ELSE 0 END)
         AS expect_sleep_days,
       SUM(CASE WHEN m.MetricName = 'bmi' THEN 1 ELSE 0 END)
         AS expect_bmi_metrics
FROM fact_healthmetric f
JOIN dim_metrictype m ON f.MetricTypeKey = m.MetricTypeKey;

-- one week of facts: date-range scans prune the date_key partitions
SELECT m.MetricName, COUNT(*) AS readings, ROUND(AVG(f.Value), 2) AS avg_value
FROM fact_healthmetric f
JOIN dim_metrictype m ON f.MetricTypeKey = m.MetricTypeKey
WHERE f.DateKey BETWEEN @WEEK_FROM AND @WEEK_TO
GROUP BY m.MetricName
ORDER BY m.MetricName;

-- top-N per user
SELECT UserKey, DateKey, TotalSteps
FROM (SELECT UserKey, DateKey, TotalSteps,
             ROW_NUMBER() OVER (PARTITION BY UserKey
                                ORDER BY TotalSteps DESC, DateKey) AS rn
      FROM fact_workoutsession) ranked
WHERE rn <= @TOP_N
ORDER BY UserKey, rn;

-- GROUP_CONCAT ... ORDER BY
SELECT UserKey, GROUP_CONCAT(ExerciseName ORDER BY ExerciseKey) AS exercises
FROM (SELECT b.UserKey, e.ExerciseName, e.ExerciseKey
      FROM bridge_user_workoutpreference b
      JOIN dim_exercise e ON b.ExerciseKey = e.ExerciseKey) picked
GROUP BY UserKey
ORDER BY UserKey
LIMIT 50;
