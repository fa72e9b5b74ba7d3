"""``bench.py``'s result file: written atomically, and pointed to by a short
last stdout line that a tail capture cannot clip.  No Spark session."""

from __future__ import annotations

import json

from bench import write_result


def test_result_round_trips_through_the_file_and_pointer(tmp_path):
    result = {"metric": "suite wall", "value": 12.5, "unit": "sec",
              "queries": {f"q{i}": i / 10 for i in range(500)},
              "pipeline_digest": -2518734284186716871}
    path = tmp_path / "out" / "result.json"
    pointer = write_result(result, path)

    assert json.loads(path.read_text()) == result
    assert [p.name for p in path.parent.iterdir()] == ["result.json"]
    line = json.dumps(pointer)
    assert len(line) < 200
    assert json.loads(line) == {
        "metric": "suite wall", "value": 12.5, "unit": "sec",
        "pipeline_digest": -2518734284186716871, "result": str(path)}

    write_result({**result, "value": 13.0}, path)  # replaces, leaves no tmp
    assert json.loads(path.read_text())["value"] == 13.0
    assert [p.name for p in path.parent.iterdir()] == ["result.json"]
