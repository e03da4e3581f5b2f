-- Freshness panel: how much the sink holds and its newest ingest time.
-- columns: events, newest, newest_event
SELECT count(*) AS events,
       max(created_at) AS newest,
       max(ts) AS newest_event
FROM parquet.`${sink}`
