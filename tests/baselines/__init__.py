"""Reference implementations that tests compare the package against."""
