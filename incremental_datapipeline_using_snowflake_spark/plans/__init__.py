from .pipeline import (
    analytics,
    bootstrap,
    harmonize,
    load_raw,
)
from .orchestrator import Orchestrator

__all__ = [
    "bootstrap",
    "load_raw",
    "harmonize",
    "analytics",
    "Orchestrator",
]
