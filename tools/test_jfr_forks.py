#!/usr/bin/env python3
"""Unit tests for tools/jfr_forks.py on canned `jfr print` text.

Run: python3 tools/test_jfr_forks.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from jfr_forks import parse_events, report, tally, verb  # noqa: E402

CANNED = """\
jdk.ProcessStart {
  startTime = 11:40:01.123
  pid = 4101
  directory = N/A
  command = "chmod 0644 /w/ckpt/state/0/1/.1.delta.tmp"
  eventThread = "ChecksumCheckpointFileManager-2" (javaThreadId = 88)
  stackTrace = [
    java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124
    org.apache.hadoop.util.Shell.runCommand() line: 998
    org.apache.hadoop.fs.RawLocalFileSystem.setPermission(Path, FsPermission) line: 1100
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.createTempFile(Path) line: 377
    graft.streaming.Sinks$.upsertByKey(Dataset, String, Seq, String, String) line: 214
  ]
}

jdk.ProcessStart {
  startTime = 11:40:01.200
  pid = 4102
  directory = N/A
  command = "readlink /w/ckpt/offsets/7"
  eventThread = "stream execution thread for dau [id = 5f1e, runId = 9a2c]" (javaThreadId = 90)
  stackTrace = [
    java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124
    org.apache.hadoop.fs.FileUtil.readLink(File) line: 211
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile(Path, Path, boolean) line: 380
    ...
  ]
}

jdk.ProcessStart {
  startTime = 11:40:01.300
  pid = 4103
  directory = N/A
  command = "/usr/bin/chmod 0755 /w/ckpt/state/0/2"
  eventThread = "ChecksumCheckpointFileManager-13" (javaThreadId = 91)
  stackTrace = [
    java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124
    org.apache.hadoop.fs.RawLocalFileSystem.mkOneDirWithMode(Path, File, FsPermission) line: 700
  ]
}
"""


class JfrForksTest(unittest.TestCase):
    def test_parse(self):
        ev = parse_events(CANNED)
        self.assertEqual(len(ev), 3)
        self.assertEqual(ev[1]["command"], "readlink /w/ckpt/offsets/7")
        self.assertEqual(ev[1]["thread"], "stream execution thread for dau [id = 5f1e, runId = 9a2c]")
        self.assertEqual(ev[0]["frames"][2], "org.apache.hadoop.fs.RawLocalFileSystem.setPermission")
        self.assertEqual(len(ev[1]["frames"]), 3)  # the "..." of a cut stack is no frame

    def test_verb(self):
        self.assertEqual(verb("/usr/bin/chmod 0755 x"), "chmod")
        self.assertEqual(verb(""), "?")

    def test_tally(self):
        by_verb, by_frame, by_thread = tally(parse_events(CANNED))
        self.assertEqual(by_verb, {"chmod": 2, "readlink": 1})
        fcm = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
        self.assertEqual(by_frame[("readlink", fcm + ".renameTempFile")], 1)
        self.assertEqual(by_frame[("chmod", fcm + ".createTempFile")], 1)
        self.assertEqual(by_frame[("chmod", "(no graft/Spark frame)")], 1)
        self.assertEqual(by_thread[("chmod", "ChecksumCheckpointFileManager-N")], 2)
        self.assertEqual(by_thread[("readlink", "stream execution thread for dau")], 1)

    def test_report(self):
        r = report(parse_events(CANNED))
        self.assertTrue(r.startswith("3 processes started"))
        self.assertIn("chmod", r.splitlines()[1])

    def test_empty(self):
        self.assertEqual(parse_events(""), [])
        self.assertTrue(report([]).startswith("0 processes started"))


if __name__ == "__main__":
    unittest.main()
