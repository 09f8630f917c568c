"""Statistics / metadata harvesting (reference ``pg.py`` rebuilt as Spark jobs)."""
