"""Overpass HTTP source — reference-parity retry/backoff around a
pluggable transport.

The reference ships ``overpass_call(query) -> str`` (helpers.py:63-84)
wrapped in a 5-attempt HTTPError retry decorator with a 5-second sleep
(helpers.py:33-60). This sandbox has no network access, so the default
transport cannot be exercised here — but the retry/backoff CONTRACT is
implemented and unit-tested against a mocked transport, so the source is
drop-in when networked: same query encoding (``urllib.parse.quote`` with
the reference's safe set), same form body, same header, same
retry-on-HTTP-error semantics (5 retries, sleep 5).

A production deployment uses this as a driver-side fetch (the query
result is one document, not distributed data), then hands the text to
``json2geojson`` — no Spark-side changes are needed.
"""

from __future__ import annotations

import urllib.parse
from functools import wraps
from time import sleep
from typing import Any, Callable, TypeVar

OVERPASS_URL = "https://overpass-api.de/api/interpreter/"
OVERPASS = OVERPASS_URL  # the reference helpers.py name

_F = TypeVar("_F", bound=Callable[..., Any])

# injectable for tests (and for deployments that want jittered backoff)
_sleep = sleep
RETRY_SLEEP_S = 5
MAX_RETRIES = 5


class OverpassHTTPError(Exception):
    """Non-200 response from the Overpass endpoint (the engine's analog
    of requests.exceptions.HTTPError — requests is not a dependency)."""


def retry_request_multi(max_retries: int) -> Callable[[_F], _F]:
    """Reference helpers.py:33-60 semantics: retry the wrapped callable
    up to ``max_retries`` times on OverpassHTTPError, sleeping
    RETRY_SLEEP_S between attempts, re-raising after the last."""

    def retry(func: _F) -> _F:
        @wraps(func)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            num_retries = 0
            while True:
                try:
                    return func(*args, **kwargs)
                except OverpassHTTPError:
                    if num_retries == max_retries:
                        raise
                    num_retries += 1
                    _sleep(RETRY_SLEEP_S)

        return wrapper  # type: ignore[return-value]

    return retry


def _default_transport(url: str, data: str, headers: dict[str, str]):
    """POST via stdlib urllib (requests is not in this environment).
    Returns (status_code, text). Raises a clear error when the sandbox
    has no network route."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=data.encode("utf-8"), headers=headers, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=180) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:  # non-2xx with a response body
        return e.code, e.read().decode("utf-8", "replace")
    except urllib.error.URLError as e:
        raise NotImplementedError(
            "overpass_call could not reach the network "
            f"({e.reason}); this environment has no network access. Fetch "
            "the Overpass response out-of-band and pass its text to "
            "json2geojson(spark, text), or use sources.synthetic for "
            "generated corpora."
        ) from e


def overpass_call(
    query: str,
    transport: Callable[[str, str, dict[str, str]], tuple[int, str]]
    | None = None,
) -> str:
    """Reference-parity Overpass fetch (helpers.py:63-84): encode the
    query with the reference's exact safe set, POST it as a form body,
    raise OverpassHTTPError on any non-200 status (which the retry
    decorator converts into 5 retries with sleep 5), return the body.

    ``transport(url, data, headers) -> (status, text)`` is pluggable so
    the retry contract is testable offline; the default uses stdlib
    urllib and raises a guidance-rich error when no network exists."""
    encoded = urllib.parse.quote(query.encode("utf-8"), safe="~()*!.'")

    @retry_request_multi(MAX_RETRIES)
    def _do() -> str:
        status, text = (transport or _default_transport)(
            OVERPASS_URL,
            f"data={encoded}",
            {
                "Content-Type": (
                    "application/x-www-form-urlencoded;charset=UTF-8"
                )
            },
        )
        if status != 200:
            raise OverpassHTTPError(
                f"Overpass server respond with status {status}"
            )
        return text

    return _do()
