"""The package's named failure, shared by the sources and the plans."""

from __future__ import annotations


class ConversionError(RuntimeError):
    """An input that cannot be converted: a document whose root is not
    ``<osm>``, or, in strict mode (``raise_on_failure``), an element that
    fails to convert."""
