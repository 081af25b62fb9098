from .pipeline import run_extraction  # noqa: F401
