-- Raw event log for the product team
SELECT event_id, user_id, event_type, value
FROM events
