"""Sink writers (SURVEY.md §2.2 L1-L10)."""

from .files import write_file  # noqa: F401
from .routing import LoaderManager, MultiTargetLoader, route_by_content  # noqa: F401
