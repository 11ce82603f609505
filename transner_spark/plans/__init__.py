"""Driver-side orchestration: staged pipeline with commit records + resume."""
