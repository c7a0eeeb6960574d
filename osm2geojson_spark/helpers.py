"""Reference-parity helper surface (reference helpers.py).

``overpass_call`` / ``retry_request_multi`` live in sources.overpass
(re-exported here so a reference user's ``from osm2geojson.helpers
import overpass_call`` maps 1:1); ``read_data_file`` is the reference's
test-corpus reader (helpers.py:19-30), reading from this repo's
``tests/data`` directory.
"""

from __future__ import annotations

import codecs
import os

from .sources.overpass import (  # noqa: F401  (parity re-exports)
    OVERPASS,
    OVERPASS_URL,
    OverpassHTTPError,
    overpass_call,
    retry_request_multi,
)

_dirname = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def read_data_file(name: str) -> str:
    """Read a test data file from tests/data and return its contents
    (reference helpers.py:19-30).

    Works from a repository checkout only: the path is resolved against
    the directory that contains the package, so an install into
    site-packages (which ships no ``tests/`` tree) raises
    ``FileNotFoundError``. The reference has the same contract."""
    path = os.path.join(_dirname, "tests", "data", name)
    with codecs.open(path, "r", encoding="utf-8") as data:
        return data.read()
