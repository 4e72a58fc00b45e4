import os
import sys

# the harness package ``pb`` lives beside this directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
