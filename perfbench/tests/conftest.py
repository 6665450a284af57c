def pytest_configure(config):
    config.addinivalue_line(
        "markers", "selftest: runs the benchmark end to end (about a minute each)"
    )
