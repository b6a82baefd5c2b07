"""Session helpers that need no running Spark: the driver-heap default and
the seam-frame registry."""

import threading
from types import SimpleNamespace

from ohsome_planet_spark import session
from ohsome_planet_spark.session import default_driver_memory


def _files(tmp_path, cgroup=None, mem_kb=None):
    d = tmp_path / f"case{len(list(tmp_path.iterdir()))}"
    d.mkdir()
    cg, mi = d / "memory.max", d / "meminfo"
    if cgroup is not None:
        cg.write_text(cgroup + "\n")
    if mem_kb is not None:
        mi.write_text(
            f"MemFree:         1000 kB\nMemTotal:       {mem_kb} kB\n"
        )
    return str(cg), str(mi)


def test_driver_memory_is_half_of_memtotal_without_a_cgroup_limit(tmp_path):
    # 15.7 GB machine, cgroup unlimited ("max") or absent
    assert default_driver_memory(*_files(tmp_path, "max", 16456384)) == "8035m"
    assert default_driver_memory(*_files(tmp_path, None, 16456384)) == "8035m"


def test_driver_memory_follows_a_tighter_cgroup_limit(tmp_path):
    assert default_driver_memory(*_files(tmp_path, str(4 << 30), 16456384)) == "2048m"
    # a cgroup limit above the machine's memory does not raise the default
    assert default_driver_memory(*_files(tmp_path, str(64 << 30), 16456384)) == "8035m"


def test_driver_memory_is_capped_and_floored(tmp_path):
    assert default_driver_memory(*_files(tmp_path, "max", 256 << 20)) == "16384m"
    assert default_driver_memory(*_files(tmp_path, str(600 << 20), None)) == "512m"
    # nothing readable: the old fixed default
    assert default_driver_memory(*_files(tmp_path)) == "16g"


class _FakeFrame:
    """Enough of a DataFrame for truncate_lineage's registry path."""

    sparkSession = SimpleNamespace(
        sparkContext=SimpleNamespace(getCheckpointDir=lambda: None)
    )

    def localCheckpoint(self, eager=False):
        return self


def test_drain_keeps_a_seam_registered_while_it_copies(monkeypatch):
    late = _FakeFrame()
    threads = []

    class _Registry(list):
        def __iter__(self):
            yield from list.__iter__(self)
            # another driver thread stages a seam after drain's copy
            t = threading.Thread(target=session.truncate_lineage, args=(late,))
            t.start()
            t.join(timeout=0.5)
            threads.append(t)

    monkeypatch.setattr(session, "_SEAM_FRAMES", _Registry())
    first = session.drain_seam_frames()
    threads[0].join()
    assert first + session.drain_seam_frames() == [late]
