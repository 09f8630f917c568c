"""Sources/sinks for the engine's file formats."""
