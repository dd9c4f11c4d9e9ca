import json

import artifact


def _write(path, cpus, value):
    metrics = {"pass_s": {"value": value, "unit": "s"}}
    path.write_text(json.dumps({
        "host": {"cpus": cpus, "mem_gb": 15.7},
        "workloads": {"w": {"end_to_end": {"metrics": metrics},
                            "per_layer": {"metrics": {}}}},
    }))
    return str(path)


def test_compare_refuses_different_cpu_counts(tmp_path, capsys):
    base = _write(tmp_path / "a.json", 4, 1.0)
    new = _write(tmp_path / "b.json", 32, 1.0)
    assert artifact.compare(base, new) == 2
    assert "refusing" in capsys.readouterr().err


def test_compare_prints_ratio_at_equal_cpu_counts(tmp_path, capsys):
    base = _write(tmp_path / "a.json", 4, 2.0)
    new = _write(tmp_path / "b.json", 4, 3.0)
    assert artifact.compare(base, new) == 0
    assert "1.500x" in capsys.readouterr().out
