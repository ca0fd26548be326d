"""A ``pyarrow.fs.PyFileSystem`` over the local file system that records
every file it opens for reading: the stand-in for a non-local store in
the serving-read tests (no network needed)."""

import pyarrow.fs as pafs


class CountingHandler(pafs.FileSystemHandler):
    """Delegates to ``LocalFileSystem``; ``opened`` lists the path of
    every ``open_input_file`` / ``open_input_stream`` call, in order."""

    def __init__(self):
        self.fs = pafs.LocalFileSystem()
        self.opened: list[str] = []

    def __eq__(self, other):
        return self is other

    def __ne__(self, other):
        return self is not other

    def get_type_name(self):
        return "counting"

    def normalize_path(self, path):
        return self.fs.normalize_path(path)

    def get_file_info(self, paths):
        return self.fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.fs.get_file_info(selector)

    def open_input_file(self, path):
        self.opened.append(path)
        return self.fs.open_input_file(path)

    def open_input_stream(self, path):
        self.opened.append(path)
        return self.fs.open_input_stream(path)

    # the serving reads never write
    def create_dir(self, path, recursive):
        raise NotImplementedError

    def delete_dir(self, path):
        raise NotImplementedError

    def delete_dir_contents(self, path, missing_dir_ok=False):
        raise NotImplementedError

    def delete_root_dir_contents(self):
        raise NotImplementedError

    def delete_file(self, path):
        raise NotImplementedError

    def move(self, src, dest):
        raise NotImplementedError

    def copy_file(self, src, dest):
        raise NotImplementedError

    def open_output_stream(self, path, metadata):
        raise NotImplementedError

    def open_append_stream(self, path, metadata):
        raise NotImplementedError


def counting_fs() -> tuple[pafs.PyFileSystem, CountingHandler]:
    handler = CountingHandler()
    return pafs.PyFileSystem(handler), handler
