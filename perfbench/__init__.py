"""Product-path benchmark of the engine; see run.py."""
