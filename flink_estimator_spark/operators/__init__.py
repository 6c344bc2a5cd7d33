"""Operator library behind the registered queries.

``plans`` imports every module here to register its queries, and these
modules import ``plans`` helpers and each other at module level.  Loading
``plans`` first lets any single operator module be imported on its own,
as the first touch of the package."""

from .. import plans  # noqa: F401
