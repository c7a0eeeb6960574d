"""The package's named failure, shared by the sources and the plans."""

from __future__ import annotations


class ConversionError(ValueError, RuntimeError):
    """An input that cannot be converted: a document whose root is not
    ``<osm>``, a node, way or relation without an integer ``id``, or, in strict
    mode (``raise_on_failure``), an element that fails to convert. It is
    a ``ValueError`` (bad input) and, as before, a ``RuntimeError``."""
