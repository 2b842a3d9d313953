"""Row and keyed-state schemas of the streaming escalation-sessions
operator (:func:`osprey_spark.streaming.escalation_tws.streaming_escalation_sessions_tws`).

Times in the state row are float64 epoch seconds; output rows carry
timestamps.
"""

OUTPUT_SCHEMA = (
    "conv_id string, session_start timestamp, escalated_at timestamp, "
    "n_turns long, n_triggers long"
)
STATE_SCHEMA = (
    "session_start double, last_ts double, n_turns long, n_triggers long, "
    "emitted boolean"
)
