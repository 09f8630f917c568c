"""Workload mining + synthetic SQL generation (reference ``create_sql.py``,
``generate_stats_sql.py``, ``generate_imdb_sql.py``, ``sql_template.py``)."""
