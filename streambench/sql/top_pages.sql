-- Top pages panel: views and distinct users per page.
-- columns: page, views, users
SELECT page, count(*) AS views, count(DISTINCT user_id) AS users
FROM parquet.`${sink}`
GROUP BY page
ORDER BY views DESC, page
LIMIT 10
