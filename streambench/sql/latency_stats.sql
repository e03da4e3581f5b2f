-- End-to-end latency panel: created_at - ts, the reference's own measure
-- (average and percentiles over every event in the sink).
-- columns: events, avg_ms, p50_ms, p95_ms, p99_ms
-- ordered: p50_ms, p95_ms, p99_ms
SELECT count(*) AS events,
       avg(lat_ms) AS avg_ms,
       percentile_approx(lat_ms, 0.5) AS p50_ms,
       percentile_approx(lat_ms, 0.95) AS p95_ms,
       percentile_approx(lat_ms, 0.99) AS p99_ms
FROM (SELECT unix_millis(created_at) - unix_millis(ts) AS lat_ms
      FROM parquet.`${sink}`)
