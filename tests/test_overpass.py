"""Retry/backoff contract of the Overpass source (reference
helpers.py:33-84) driven through a mocked transport — no network."""

import pytest

from osm2geojson_spark.sources import overpass as OV


class FlakyTransport:
    """Fails with a given status ``fail_n`` times, then succeeds."""

    def __init__(self, fail_n, body="ok-body", status=504):
        self.fail_n = fail_n
        self.body = body
        self.status = status
        self.calls = []

    def __call__(self, url, data, headers):
        self.calls.append((url, data, headers))
        if len(self.calls) <= self.fail_n:
            return self.status, "server busy"
        return 200, self.body


def _patch_sleep(monkeypatch):
    slept = []
    monkeypatch.setattr(OV, "_sleep", lambda s: slept.append(s))
    return slept


def test_overpass_call_retries_then_succeeds(monkeypatch):
    slept = _patch_sleep(monkeypatch)
    t = FlakyTransport(fail_n=2)
    assert OV.overpass_call("node(1);out;", transport=t) == "ok-body"
    assert len(t.calls) == 3                      # 2 failures + 1 success
    assert slept == [OV.RETRY_SLEEP_S] * 2        # reference: sleep 5
    # reference-exact request shape
    url, data, headers = t.calls[0]
    assert url == OV.OVERPASS_URL
    assert data.startswith("data=")
    assert headers["Content-Type"] == (
        "application/x-www-form-urlencoded;charset=UTF-8"
    )


def test_overpass_parity_alias():
    """The reference names the endpoint ``OVERPASS`` in its helpers."""
    from osm2geojson_spark import helpers

    assert OV.OVERPASS == OV.OVERPASS_URL
    assert helpers.OVERPASS == OV.OVERPASS_URL


def test_overpass_call_exhausts_retries(monkeypatch):
    slept = _patch_sleep(monkeypatch)
    t = FlakyTransport(fail_n=100)
    with pytest.raises(OV.OverpassHTTPError, match="status 504"):
        OV.overpass_call("node(1);out;", transport=t)
    # reference retry_request_multi(5): initial try + 5 retries
    assert len(t.calls) == 1 + OV.MAX_RETRIES
    assert slept == [OV.RETRY_SLEEP_S] * OV.MAX_RETRIES


def test_overpass_query_encoding_matches_reference(monkeypatch):
    """Encoding uses the reference's exact safe set ~()*!.' so the form
    body is byte-identical to helpers.py:76."""
    import urllib.parse

    _patch_sleep(monkeypatch)
    q = "[out:json];way[\"name\"='Café & Straße'](50.6,7.0,50.8,7.3);out;"
    t = FlakyTransport(fail_n=0)
    OV.overpass_call(q, transport=t)
    want = "data=" + urllib.parse.quote(q.encode("utf-8"), safe="~()*!.'")
    assert t.calls[0][1] == want


def test_read_data_file_reads_fixture():
    from osm2geojson_spark.helpers import read_data_file

    text = read_data_file("way.osm")
    assert "<osm" in text
