from __future__ import annotations

from catalyst_spark.config import Config, load_config


def test_defaults_match_reference():
    c = Config()
    assert c.warp_endpoint == "http://127.0.0.1:8080"         # cmd/root.go:46
    assert c.warp_endpoint_delete == "http://127.0.0.1:8080"  # cmd/root.go:139-146


def test_file_then_env_precedence(tmp_path):
    p = tmp_path / "catalyst.yml"
    p.write_text("warp.endpoint: http://file:9090\n"
                 "warp.endpoint.delete: http://file:9091\n")
    c = load_config(str(p), env={"CATALYST_WARP_ENDPOINT_DELETE": " http://env:9092 "})
    assert c.warp_endpoint == "http://file:9090"          # from file
    assert c.warp_endpoint_delete == "http://env:9092"    # env wins over file
