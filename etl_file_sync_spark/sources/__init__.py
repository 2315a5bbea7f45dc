"""Streaming sources: the ``events_replay`` Python Data Source."""
